"""CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): split
each language's documents into head / middle / tail terciles by
language-model score — the standard corpus-quality partition (CCNet
keeps head+middle for training; FineWeb/RedPajama replicate it).

Composition: the per-doc score is the shared unigram-LM scorer
(functions/unigram_lm.py, the KenLM stand-in, also registered as
text_unigram_lm_score) — used as a builder on the Spark side and
spliced as a CTE on the oracle side, so the scorer has ONE definition.
Buckets are exact
NTILE(3) per language with a doc_id tiebreak (cross-engine-identical);
the output is the slim per-(lang, bucket) profile a curation run
records: doc count, token count, and the score band.

Scale shape: the scorer is two bounded passes (slim (token, count)
shuffle, top-V broadcast back); bucketing adds ONE shuffle by lang and
a per-lang sort.  At 100 TB the exact per-lang NTILE sort is the
documented trade for oracle-exactness — production CCNet computes the
two cutoffs from a quantile sketch on a sample and assigns buckets with
a broadcast threshold table (no global sort); the sketch path is
engine-specific (agg_approx_quantiles documents the same trade).

Reference parity: SQL2ALL has no text surface (658-line core delegates
SQL to the attached DB — src/db/sqlite.rs:79); LLM-pipeline extension
surface (SURVEY.md §2 extension table).

Precondition (ADVICE r12): every document must yield at least one
non-empty token — the scorer's inner join would silently drop a
token-less doc from bucketing and under-count its language's n_docs
(the partition-tiling test would catch it on such a fixture).  This
holds for the whitespace-token fixture by construction; a production
deployment feeding arbitrary text should left-join from documents and
assign token-less docs a sentinel score (they land in the tail bucket,
which CCNet drops anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql2all_spark.functions.unigram_lm import (
    UNIGRAM_ORACLE,
    unigram_doc_scores,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


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
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("avg_neglogp").alias("min_score"),
            F.max("avg_neglogp").alias("max_score"),
            # exact integer half-up average over the 6-decimal doc
            # scores: each score is exactly k/1e6, so the decimal cast
            # recovers k and the group average quantizes via
            # (2S + n) div (2n) — identical integer arithmetic in both
            # engines (the kn_trigram.py pattern; ROUND(double, 6) is
            # the NOTES.md r15 halfway TRAP — conversion proven
            # value-neutral on all four fixture SFs)
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
