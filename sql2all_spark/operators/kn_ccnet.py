"""CCNet perplexity bucketing driven by the Kneser-Ney TRIGRAM model —
the bucketing CCNet actually ships (Wenzek et al. 2020 §4.3 filters on
a KenLM 5-gram KN model, not a unigram stand-in).

``text_perplexity_buckets`` established the head/middle/tail partition
over the unigram scorer; this operator upgrades the score to the
bounded interpolated-KN trigram model (``functions/kn3_core.py``, the
same chain ``text_kn_trigram_score`` registers) — the fixture-honest
rung closest to production KenLM filtering.  Per-language NTILE(3)
terciles by avg -log p ASC (head = most fluent, CCNet trains on
head+middle), doc_id tiebreak; one profile row per (lang, bucket) with
doc/trigram counts, the serving-model hit count (how much of each
bucket the bounded model actually scored — the coverage number a model
-size sweep tunes), and the exact score band.

Composition: the scorer chain and per-doc builder are imported from
the non-registering ``kn3_core``.  ONE definition of the model on each
engine: the oracle prepends ``kn3_chain_ctes()`` and wraps
``KN3_DOC_SELECT`` as a CTE; the builder composes ``kn3_doc_scores``.

Membership note: only documents with >= 3 non-empty tokens carry a
trigram score (the scorer's floor), so shorter documents fall outside
the bucketing — CCNet's own LM filter has the same floor (a doc with
no scoreable n-grams has no perplexity) and such docs route to the
tail/drop path in production.

Cross-engine determinism: scores are the scorer's exact fixed-point
values (k/1e6), so DECIMAL(18,6)*1e6 recovers k exactly and the bucket
average quantizes via the exact integer half-up ``(2S+n) div (2n)``
(the ccnet.py r16 pattern; ROUND(double,6) is the NOTES r15 halfway
TRAP).  NTILE ordering is pinned by (avg_neglogp ASC, doc_id ASC).

Scale shape: the scorer's shape (one 8-byte packed-trigram exchange +
five broadcast model joins), then ONE slim (doc_id, lang, score) join
and a per-lang window.  The exact per-lang NTILE sort is the
documented oracle-exactness trade — production computes the two
cutoffs from a per-lang quantile sketch and assigns buckets via a
broadcast threshold table (no global sort), the same swap
text_perplexity_buckets and agg_approx_quantiles document.

Reference parity note: SQL2ALL has no LM surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), completing the CCNet arc: ladder LM -> KN smoothing ->
bucketing ON the production-grade score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql2all_spark.functions.kn3_core import (
    KN3_DOC_SELECT,
    kn3_chain_ctes,
    kn3_doc_scores,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


def _kn_buckets_oracle() -> str:
    return f"""
WITH {kn3_chain_ctes()},
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
    " KN model) — per-language NTILE(3) terciles of the kn3_core"
    " scorer (composed, not re-implemented), profiled per (lang,"
    " bucket): doc/trigram counts, serving-model hit count (bounded-"
    " model coverage), exact score band, and the integer-half-up"
    " bucket average.  head = most fluent; CCNet keeps head+middle.",
)
def text_kn_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = kn3_doc_scores(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = lm.join(d, "doc_id").withColumn(
        "tercile",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy(
                F.col("avg_neglogp").asc_nulls_first(),
                F.col("doc_id").asc_nulls_first(),
            )
        ),
    )
    return (
        scored.groupBy(
            "lang",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_trigrams").cast("long").alias("n_trigrams"),
            F.sum("n_model_hits").cast("long").alias("n_model_hits"),
            F.min("avg_neglogp").alias("min_score"),
            F.max("avg_neglogp").alias("max_score"),
            # scores are exactly k/1e6 -> DECIMAL(18,6)*1e6 recovers k;
            # exact integer half-up (2S+n) div (2n), both engines
            (
                F.expr(
                    "(2 * sum(cast(cast(avg_neglogp as decimal(18,6))"
                    " * 1000000 as bigint)) + count(1))"
                    " div (2 * count(1))"
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )
