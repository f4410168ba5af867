"""Stupid Backoff (SB) bigram and trigram document scoring (Brants et
al. 2007): score(w_n | context) = c(context, w_n) / c(context) when the
n-gram is a model cell, else ALPHA * the next-lower-order score, down to
the unigram vocabulary and the 1/total OOV floor.  No discounting, so
every model cell is a ratio of two corpus counts and the model is
trivially distributable.  The order-0 rung is ``text_unigram_lm_score``
(``operators/text.py``); all three build on ``functions/ngram_lm.py``.

Tokens are raw strings; model-cell ties break on (count desc, context
asc, token asc).  Reference parity: SQL2ALL delegates arbitrary SQL to
the backing engine (src/lib.rs:76-90); n-gram LM scoring is the
corpus-curation extension family (SURVEY §2.B "LLM-ext").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql2all_spark.functions.ngram_lm import (
    BACKOFF_ALPHA,
    S_BACKOFF,
    SCALE,
    TOP,
    VOCAB,
    sb_doc_scores,
)
from sql2all_spark.registry import register


@register(
    "text_bigram_lm_score",
    oracle=f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 1
),
pr AS (
  SELECT doc_id,
         CASE WHEN i > 1 THEN w[i - 1] END AS w1,
         w[i] AS w2
  FROM (SELECT doc_id, w, UNNEST(range(1, len(w) + 1)) AS i FROM d)
),
counts AS (
  SELECT w2 AS token, COUNT(*) AS c FROM pr GROUP BY w2
),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS t FROM counts
),
vocab AS (
  SELECT token, c FROM counts
  ORDER BY c DESC NULLS LAST, token ASC NULLS FIRST
  LIMIT {VOCAB}
),
scored AS (
  SELECT token,
         CAST(FLOOR({SCALE}.0 * -LN(CAST(c AS DOUBLE) / t) + 0.5)
              AS BIGINT) AS s_uni
  FROM vocab, tot
),
bcounts AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM pr WHERE w1 IS NOT NULL
  GROUP BY w1, w2
),
btop AS (
  SELECT w1, w2, c12 FROM bcounts
  ORDER BY c12 DESC NULLS LAST, w1 ASC NULLS FIRST, w2 ASC NULLS FIRST
  LIMIT {TOP}
),
bscored AS (
  SELECT b.w1, b.w2,
         CAST(FLOOR({SCALE}.0 *
                    -LN(CAST(b.c12 AS DOUBLE) / CAST(u.c AS DOUBLE)) + 0.5)
              AS BIGINT) AS s_bi
  FROM btop b JOIN counts u ON u.token = b.w1
),
tok AS (
  SELECT pr.doc_id,
         CASE WHEN bs.s_bi IS NOT NULL THEN 1 ELSE 0 END AS bigram_hit,
         CASE WHEN bs.s_bi IS NOT NULL THEN bs.s_bi
              ELSE COALESCE(sc.s_uni,
                            CAST(FLOOR({SCALE}.0 * -LN(1.0 / t) + 0.5)
                                 AS BIGINT))
                   + CASE WHEN pr.w1 IS NOT NULL THEN {S_BACKOFF} ELSE 0 END
         END AS s
  FROM pr
  CROSS JOIN tot
  LEFT JOIN bscored bs ON bs.w1 = pr.w1 AND bs.w2 = pr.w2
  LEFT JOIN scored sc ON sc.token = pr.w2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bigram_hit) AS BIGINT) AS n_bigram_hits,
       CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {SCALE}.0 AS avg_neglogp
FROM tok GROUP BY doc_id
""",
    doc=f"Stupid-Backoff bigram LM score: top-{TOP} bigram model"
    " cells (MLE conditional probabilities), backoff to"
    f" {BACKOFF_ALPHA} × unigram for unmodeled bigrams, pure unigram for"
    " each document's first token, OOV floor 1/total.  Low scores ="
    " predictable boilerplate, high = gibberish — the order-1 KenLM"
    " perplexity-band filter.  Model tables are bounded broadcasts"
    " (V + B rows at any corpus size); bigrams generate row-local;"
    " per-token scores are fixed-point BIGINTs so doc sums are exact and"
    " order-free; the backoff penalty is a precomputed integer literal"
    " in both engines.",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sb_doc_scores(spark, sf_dir, 2)


@register(
    "text_trigram_lm_score",
    oracle=f"""
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 1
),
pr AS (
  SELECT doc_id,
         CASE WHEN i > 2 THEN w[i - 2] END AS w1,
         CASE WHEN i > 1 THEN w[i - 1] END AS w2,
         w[i] AS w3
  FROM (SELECT doc_id, w, UNNEST(range(1, len(w) + 1)) AS i FROM d)
),
counts AS (
  SELECT w3 AS token, COUNT(*) AS c FROM pr GROUP BY w3
),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS t FROM counts
),
vocab AS (
  SELECT token, c FROM counts
  ORDER BY c DESC NULLS LAST, token ASC NULLS FIRST
  LIMIT {VOCAB}
),
uscored AS (
  SELECT token,
         CAST(FLOOR({SCALE}.0 * -LN(CAST(c AS DOUBLE) / t) + 0.5)
              AS BIGINT) AS s_uni
  FROM vocab, tot
),
bcounts AS (
  SELECT w2, w3, COUNT(*) AS c23 FROM pr WHERE w2 IS NOT NULL
  GROUP BY w2, w3
),
btop AS (
  SELECT w2, w3, c23 FROM bcounts
  ORDER BY c23 DESC NULLS LAST, w2 ASC NULLS FIRST, w3 ASC NULLS FIRST
  LIMIT {TOP}
),
bscored AS (
  SELECT b.w2, b.w3,
         CAST(FLOOR({SCALE}.0 *
                    -LN(CAST(b.c23 AS DOUBLE) / CAST(u.c AS DOUBLE)) + 0.5)
              AS BIGINT) AS s_bi
  FROM btop b JOIN counts u ON u.token = b.w2
),
tcounts AS (
  SELECT w1, w2, w3, COUNT(*) AS c123 FROM pr WHERE w1 IS NOT NULL
  GROUP BY w1, w2, w3
),
ttop AS (
  SELECT w1, w2, w3, c123 FROM tcounts
  ORDER BY c123 DESC NULLS LAST, w1 ASC NULLS FIRST,
           w2 ASC NULLS FIRST, w3 ASC NULLS FIRST
  LIMIT {TOP}
),
tscored AS (
  SELECT tt.w1, tt.w2, tt.w3,
         CAST(FLOOR({SCALE}.0 *
                    -LN(CAST(tt.c123 AS DOUBLE) / CAST(bc.c23 AS DOUBLE))
                    + 0.5) AS BIGINT) AS s_tri
  FROM ttop tt JOIN bcounts bc ON bc.w2 = tt.w1 AND bc.w3 = tt.w2
),
tok AS (
  SELECT pr.doc_id,
         CASE WHEN ts.s_tri IS NOT NULL THEN 1 ELSE 0 END AS trigram_hit,
         CASE WHEN ts.s_tri IS NULL AND bs.s_bi IS NOT NULL THEN 1 ELSE 0
         END AS bigram_hit,
         CASE WHEN ts.s_tri IS NOT NULL THEN ts.s_tri
              WHEN bs.s_bi IS NOT NULL THEN
                bs.s_bi
                + CASE WHEN pr.w1 IS NOT NULL THEN {S_BACKOFF} ELSE 0 END
              ELSE COALESCE(us.s_uni,
                            CAST(FLOOR({SCALE}.0 * -LN(1.0 / t) + 0.5)
                                 AS BIGINT))
                   + CASE WHEN pr.w1 IS NOT NULL THEN {S_BACKOFF} ELSE 0 END
                   + CASE WHEN pr.w2 IS NOT NULL THEN {S_BACKOFF} ELSE 0 END
         END AS s
  FROM pr
  CROSS JOIN tot
  LEFT JOIN tscored ts
         ON ts.w1 = pr.w1 AND ts.w2 = pr.w2 AND ts.w3 = pr.w3
  LEFT JOIN bscored bs ON bs.w2 = pr.w2 AND bs.w3 = pr.w3
  LEFT JOIN uscored us ON us.token = pr.w3
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(trigram_hit) AS BIGINT) AS n_trigram_hits,
       CAST(SUM(bigram_hit) AS BIGINT) AS n_bigram_hits,
       CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {SCALE}.0 AS avg_neglogp
FROM tok GROUP BY doc_id
""",
    doc=f"Stupid-Backoff trigram LM score: top-{TOP} trigram model"
    f" cells conditioned on their context bigram counts, backing off by"
    f" {BACKOFF_ALPHA}× per level to the top-{TOP} bigram model,"
    f" then the top-{VOCAB} unigram vocabulary, then the 1/total OOV"
    " floor — the order-2 KenLM perplexity-band filter, and the smallest"
    " order where the backoff chain actually recurses.  Model tables are"
    " bounded broadcasts (V + B + T rows at any corpus size); n-grams"
    " generate row-local; per-token scores are fixed-point BIGINTs so"
    " doc sums are exact and order-free; the per-level backoff penalty"
    " is a precomputed integer literal in both engines.",
)
def text_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sb_doc_scores(spark, sf_dir, 3)
