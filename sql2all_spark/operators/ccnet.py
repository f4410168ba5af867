"""CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): split
each language's documents into head / middle / tail terciles by
language-model score — the standard corpus-quality partition (CCNet
keeps head+middle for training; FineWeb/RedPajama replicate it).

Two registrations share one tercile profile
(``functions/ngram_lm.tercile_profile``) and differ only in the score:
``text_perplexity_buckets`` buckets the unigram-LM score (the KenLM
stand-in, also registered as ``text_unigram_lm_score``);
``text_kn_ccnet_buckets`` buckets the interpolated Kneser-Ney trigram
score (also registered as ``text_kn_trigram_score``) — the bucketing
CCNet actually ships, which filters on a KenLM KN model, and adds the
serving-model hit count (how much of each bucket the bounded model
scored).  Each scorer is composed, not re-implemented: the builder
calls it and the oracle splices its SQL as CTEs.  Buckets are exact
NTILE(3) per language with a doc_id tiebreak (cross-engine-identical);
scores are exact k/1e6 values, so the bucket mean quantizes via the
exact integer half-up ``(2S+n) div (2n)``.

Membership: a document is bucketed only if its scorer scores it — at
least one non-empty token for the unigram (true of the fixture by
construction), at least three for the KN trigram.  CCNet's own LM
filter has the same floor (a doc with no scoreable n-gram has no
perplexity); a production deployment feeding arbitrary text should
left-join from documents and route such docs to the tail/drop path.

Scale shape: the scorer's shape, then ONE slim (doc_id, lang) join and
a per-lang window.  The exact per-lang NTILE sort is the documented
trade for oracle-exactness — production CCNet computes the two cutoffs
from a quantile sketch on a sample and assigns buckets with a broadcast
threshold table (no global sort); the sketch path is engine-specific
(agg_approx_quantiles documents the same trade).

Reference parity: SQL2ALL has no text surface (its SQL passes through
to the attached DB — src/db/sqlite.rs:79); LLM-pipeline extension
surface (SURVEY.md §2 extension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql2all_spark.functions.ngram_lm import (
    KN3_DOC_SELECT,
    UNIGRAM_ORACLE,
    kn_chain_ctes,
    kn_doc_scores,
    tercile_profile,
    unigram_doc_scores,
)
from sql2all_spark.registry import register


def _buckets_oracle() -> str:
    lm_sql = UNIGRAM_ORACLE
    return f"""
WITH lm AS (SELECT doc_id, n_tokens, avg_neglogp FROM ({lm_sql})),
scored AS (
  SELECT d.lang, lm.doc_id, lm.n_tokens, lm.avg_neglogp,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY lm.avg_neglogp ASC, lm.doc_id ASC)
           AS tercile
  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
)
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(avg_neglogp) AS min_score,
       MAX(avg_neglogp) AS max_score,
       CAST((2 * SUM(CAST(CAST(avg_neglogp AS DECIMAL(18,6)) * 1000000
                          AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_score
FROM scored
GROUP BY lang, tercile
ORDER BY lang, bucket
"""


@register(
    "text_perplexity_buckets",
    oracle=_buckets_oracle(),
    doc="CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020):"
    " per-language terciles of the unigram-LM document score"
    " (text_unigram_lm_score, composed not re-implemented), profiled per"
    " (lang, bucket) — doc count, token count, score band.  head = most"
    " fluent (lowest avg -log p); CCNet trains on head+middle.  Exact"
    " NTILE keeps the oracle byte-identical; the module docstring records"
    " the production sketch-threshold variant that replaces the per-lang"
    " sort at 100 TB.",
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = unigram_doc_scores(spark, sf_dir)
    return tercile_profile(spark, sf_dir, lm, ["n_tokens"])


def _kn_buckets_oracle() -> str:
    return f"""
WITH {kn_chain_ctes()},
lm AS ({KN3_DOC_SELECT}),
scored AS (
  SELECT d.lang, lm.doc_id, lm.n_trigrams, lm.n_model_hits,
         lm.avg_neglogp,
         NTILE(3) OVER (PARTITION BY d.lang
                        ORDER BY lm.avg_neglogp ASC, lm.doc_id ASC)
           AS tercile
  FROM lm JOIN documents d ON lm.doc_id = d.doc_id
)
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_trigrams) AS BIGINT) AS n_trigrams,
       CAST(SUM(n_model_hits) AS BIGINT) AS n_model_hits,
       MIN(avg_neglogp) AS min_score,
       MAX(avg_neglogp) AS max_score,
       CAST((2 * SUM(CAST(CAST(avg_neglogp AS DECIMAL(18,6)) * 1000000
                          AS BIGINT)) + COUNT(*))
            // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_score
FROM scored
GROUP BY lang, tercile
ORDER BY lang, bucket
"""


@register(
    "text_kn_ccnet_buckets",
    oracle=_kn_buckets_oracle(),
    doc="CCNet head/middle/tail bucketing ON the interpolated"
    " Kneser-Ney trigram score (Wenzek et al. 2020 filter on a KenLM"
    " KN model) — per-language NTILE(3) terciles of the KN trigram"
    " scorer (composed, not re-implemented), profiled per (lang,"
    " bucket): doc/trigram counts, serving-model hit count (bounded-"
    " model coverage), exact score band, and the integer-half-up"
    " bucket average.  head = most fluent; CCNet keeps head+middle.",
)
def text_kn_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = kn_doc_scores(spark, sf_dir, 3)
    return tercile_profile(spark, sf_dir, lm, ["n_trigrams", "n_model_hits"])
