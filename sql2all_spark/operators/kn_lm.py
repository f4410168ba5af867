"""Interpolated Kneser-Ney (KN) bigram and trigram document scoring —
the smoothing real perplexity filters use (CCNet's KenLM models are KN
smoothed; Kneser & Ney 1995, Chen & Goodman 1999's interpolated form,
Heafield 2011 for the serving shape), where ``operators/lm.py`` is
Stupid Backoff.  Absolute discount D = 0.75 at every level:

    P(w3|w1,w2) = (c(w1w2w3) - D) / c(w1w2)  +  lam(w1,w2) * Pmid(w3|w2)
    lam(w1,w2)  = D * N1+(w1,w2,*) / c(w1w2)
    Pmid(w3|w2) = (N1+(*,w2,w3) - D) / N1+(*,w2,*)
                  + lam_mid(w2) * Pcont(w3)
    lam_mid(w2) = D * N1+t(w2,*) / N1+(*,w2,*)
    Pcont(w3)   = N1+(*,w3) / N

The bigram is the same form one level down: P(v|u) = (c(u,v) - D) /
c(u) + lam(u) * Pcont(v).  Lower levels use CONTINUATION (type)
counts — how many distinct contexts a suffix follows, not how often
(the KN idea) — and every count derives from the one order-n count
table, so summed over the full vocabulary the model normalizes level by
level (pinned by the pure-Python replicas in tests/test_invariants.py).

Tokens hash row-locally into ``60 // order``-bit md5 buckets (30 bits
for the bigram, 20 for the trigram) and each n-gram packs into ONE
int64 (``bg = u*2^30 + v``, ``tg = w1*2^40 + w2*2^20 + w3``), so the
operator's only corpus-wide exchange carries a single 8-byte key and
every lower-order statistic is integer arithmetic on it.  The bounded
serving model, its backoff and the fixed-point rules are in
``functions/ngram_lm.py``.

Reference parity note: SQL2ALL has no LM surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql2all_spark.functions.hashing import base_hash_sql
from sql2all_spark.functions.ngram_lm import (
    D,
    KN3_DOC_SELECT,
    SCALE,
    TOP,
    VOCAB,
    kn_chain_ctes,
    kn_doc_scores,
    packed_bits,
)
from sql2all_spark.registry import register


def _kn_oracle() -> str:
    b = 1 << packed_bits(2)
    th = f"{base_hash_sql('t')} % {b}"
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                        t -> {th}) AS th
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 2
),
pr AS (
  SELECT doc_id, th[i - 1] * {b} + th[i] AS bg
  FROM (SELECT doc_id, th, UNNEST(range(2, len(th) + 1)) AS i FROM d)
),
bc AS (
  SELECT bg, bg // {b} AS u, bg % {b} AS v, COUNT(*) AS c12
  FROM pr GROUP BY bg
),
ctx AS (
  SELECT u, CAST(SUM(c12) AS DOUBLE) AS cud,
         CAST(COUNT(*) AS DOUBLE) AS n1fd,
         CAST(SUM(c12) AS BIGINT) AS cu
  FROM bc GROUP BY u
),
cont AS (
  SELECT v, CAST(COUNT(*) AS DOUBLE) AS n1bd,
         CAST(COUNT(*) AS BIGINT) AS n1b
  FROM bc GROUP BY v
),
nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM bc),
btop AS (
  SELECT bg, u, v, c12 FROM bc
  ORDER BY c12 DESC NULLS LAST, bg ASC NULLS FIRST
  LIMIT {TOP}
),
ctx_top AS (
  SELECT u, cud, n1fd FROM ctx
  ORDER BY cu DESC NULLS LAST, u ASC NULLS FIRST
  LIMIT {VOCAB}
),
cont_top AS (
  SELECT v, n1b FROM cont
  ORDER BY n1b DESC NULLS LAST, v ASC NULLS FIRST
  LIMIT {VOCAB}
),
bscored AS (
  SELECT b.bg,
         CAST(FLOOR({SCALE}.0 * -LN(
                ((CAST(b.c12 AS DOUBLE) - {D}) / cx.cud)
                + ((({D} * cx.n1fd) / cx.cud) * (cn.n1bd / nt.nd))
              ) + 0.5) AS BIGINT) AS s_bi
  FROM btop b
  JOIN ctx cx ON cx.u = b.u
  JOIN cont cn ON cn.v = b.v
  CROSS JOIN nt
),
tok AS (
  SELECT pr.doc_id,
         CASE WHEN bs.s_bi IS NOT NULL THEN 1 ELSE 0 END AS model_hit,
         CASE WHEN bs.s_bi IS NOT NULL THEN bs.s_bi
              ELSE CAST(FLOOR({SCALE}.0 * -LN(
                     (CASE WHEN cx.u IS NOT NULL
                           THEN (({D} * cx.n1fd) / cx.cud)
                           ELSE 1.0 END)
                     * (CAST(COALESCE(cn.n1b, 1) AS DOUBLE) / nt.nd)
                   ) + 0.5) AS BIGINT)
         END AS s
  FROM pr
  CROSS JOIN nt
  LEFT JOIN bscored bs ON bs.bg = pr.bg
  LEFT JOIN ctx_top cx ON cx.u = pr.bg // {b}
  LEFT JOIN cont_top cn ON cn.v = pr.bg % {b}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(model_hit) AS BIGINT) AS n_model_hits,
       CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {SCALE}.0 AS avg_neglogp
FROM tok GROUP BY doc_id
"""


@register(
    "text_kn_bigram_score",
    oracle=_kn_oracle(),
    doc="Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995;"
    " the smoothing CCNet's KenLM filters actually use, vs the ladder's"
    f" Stupid-Backoff bigram): absolute discount D={D} frees"
    " probability mass per context, redistributed over CONTINUATION"
    " probabilities (how many contexts a word follows, not how often it"
    f" occurs).  Bounded serving model (top-{TOP} cells +"
    f" top-{VOCAB} context/continuation tables, all broadcastable);"
    " tokens live in 30-bit md5 buckets with each bigram PACKED into"
    " one int64 so the only corpus-wide exchange carries a single"
    " 8-byte key (the contamination packing trick).  Per-position"
    " scores are fixed-point BIGINTs from an IEEE expression tree"
    " written identically in both engines.",
)
def text_kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kn_doc_scores(spark, sf_dir, 2)


@register(
    "text_kn_trigram_score",
    oracle=f"""
WITH {kn_chain_ctes()}
{KN3_DOC_SELECT}
""",
    doc="Interpolated Kneser-Ney TRIGRAM LM score (Kneser & Ney 1995,"
    " Chen & Goodman interpolated form) — one more packed level over"
    f" the KN bigram: absolute discount D={D} at both levels, the"
    " middle/bottom levels on CONTINUATION (type) counts derived"
    " entirely from the single trigram count table.  Tokens in 20-bit"
    " md5 buckets, each trigram PACKED into one int64 (3x20 < 2^60) so"
    " the only corpus-wide exchange carries an 8-byte key; bounded"
    f" serving model (top-{TOP} cells + four top-{VOCAB}"
    " ctx/mid/midctx/cont tables, all broadcast).  Per-position scores"
    " are fixed-point BIGINTs from an IEEE expression tree written"
    " identically in both engines.",
)
def text_kn_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kn_doc_scores(spark, sf_dir, 3)
