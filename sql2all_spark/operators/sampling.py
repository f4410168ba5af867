"""Deterministic sampling & dataset-mixing operators for training-data
pipelines.

``df.sample()`` is seed-dependent per partition-split and not reproducible
across engines or re-runs with different partitioning — useless for a
dataset you must be able to rebuild bit-for-bit.  Everything here samples by
CONTENT HASH instead: membership is a pure function of the row's key, so
the sample is stable under repartitioning, engine changes, incremental
reruns, and late-arriving data (a new doc either is or isn't in the sample,
existing members never flip).  This is how production corpus pipelines
version their eval splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked

# Percent-bucket helpers live in functions/hashing.py, shared with
# pipeline.py; aliased to keep this module's call sites stable.
from sql2all_spark.functions.hashing import (
    hash_bucket,
    hash_bucket_sql,
    pct_bucket as _hash_bucket,
    pct_bucket_sql as _hash_bucket_sql,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


@register(
    "sample_hash_deterministic",
    oracle=f"""
SELECT doc_id, lang, n_chars,
       {_hash_bucket_sql('doc_id')} AS bucket
FROM documents
WHERE {_hash_bucket_sql('doc_id')} < 10
""",
    doc="Deterministic 10% sample by content-hash bucket: membership is a"
    " pure function of doc_id, so the sample survives repartitioning,"
    " reruns, and incremental appends unchanged — unlike df.sample(seed),"
    " whose output depends on the physical partition layout.  Row-local,"
    " no shuffle; at 100 TB this is a free filter pushed into the scan"
    " pipeline.",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    return d.select("doc_id", "lang", "n_chars", bucket.alias("bucket")).filter(
        bucket < 10
    )


STRATUM_CAP = 40


@register(
    "sample_stratified_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source
           ORDER BY {_hash_bucket_sql('doc_id')} ASC, doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM ranked WHERE rk <= {STRATUM_CAP}
""",
    doc=f"Stratified cap: at most {STRATUM_CAP} docs per (lang, source)"
    " stratum, chosen by hash order (deterministic, unbiased w.r.t."
    " position in the file) — the rebalancing step that stops one dominant"
    " source/language from swamping a training mix.  One shuffle on the"
    " stratum key; row_number's per-partition heap keeps memory bounded.",
)
def sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        _hash_bucket(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_CAP)
        .select("doc_id", "lang", "source", "n_chars")
    )


# per-lang keep-rates for the weighted mix (percent of hash space)
MIX_RATES: dict[str, int] = {"en": 80, "zh": 50, "fr": 30, "de": 30, "es": 20}


def _mix_rates_sql() -> str:
    rows = ", ".join(f"('{k}', {v})" for k, v in MIX_RATES.items())
    return f"(VALUES {rows}) AS r(lang, keep_pct)"


@register(
    "sample_weighted_mix",
    oracle=f"""
SELECT d.doc_id, d.lang, r.keep_pct
FROM documents d
JOIN {_mix_rates_sql()} ON d.lang = r.lang
WHERE {_hash_bucket_sql('d.doc_id')} < r.keep_pct
""",
    doc="Weighted dataset mixing: each language keeps a configured share of"
    " the hash space (en 80%, es 20%, ...), composing the corpus to a"
    " target distribution in ONE deterministic pass — no per-source"
    " sampling jobs, no unions.  The rate table broadcasts; the filter is"
    " row-local.",
)
def sample_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        list(MIX_RATES.items()), "lang string, keep_pct int"
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(_hash_bucket(F.col("doc_id")) < F.col("keep_pct"))
        .select("doc_id", "lang", "keep_pct")
    )


# Temperature-scaled mixing: keep-rate resolution (per-100k of hash space)
# and the corpus share the sample targets.  alpha = 0.5 (w ∝ count^0.5) is
# hard-wired via SQRT because IEEE-754 sqrt is correctly rounded in BOTH
# engines (POWER(x, a) is not), so the integer-scaled weights are exact.
MIX_RESOLUTION = 100_000
MIX_TARGET_PCT = 30  # sample ~30% of the corpus overall


@register(
    "sample_temperature_mix",
    oracle=f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
),
wts AS (
  SELECT lang, c,
         CAST(FLOOR(SQRT(CAST(c AS DOUBLE)) + 0.5) AS BIGINT) AS s
  FROM counts
),
tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS ssum, CAST(SUM(c) AS BIGINT) AS n FROM wts
),
rates AS (
  SELECT lang, c,
         CAST(LEAST({MIX_RESOLUTION},
                    (((n * {MIX_TARGET_PCT}) // 100) * s * {MIX_RESOLUTION})
                      // (ssum * c)) AS BIGINT) AS keep_p100k
  FROM wts, tot
)
SELECT d.doc_id, d.lang, r.keep_p100k
FROM documents d
JOIN rates r ON d.lang = r.lang
WHERE {hash_bucket_sql('d.doc_id', MIX_RESOLUTION)} < r.keep_p100k
""",
    doc="Temperature-scaled source mixing (w ∝ count^0.5): the standard"
    " multilingual-corpus composition step that upsamples low-resource"
    " languages relative to their raw share.  Per-lang keep rates are"
    " derived from integer-scaled sqrt weights normalized to a 30% overall"
    " target and capped at 100% — all integer arithmetic after one"
    " correctly-rounded SQRT, so the rates are bit-identical across"
    " engines.  Plan shape: one slim partial-agg shuffle for the per-lang"
    " counts (a handful of rows), rates broadcast back onto the corpus,"
    " then a row-local hash-bucket filter — membership is a pure function"
    " of doc_id, so the mix is reproducible under repartitioning and"
    " incremental growth.  At 100 TB the only wide exchange is the"
    " per-lang count, which partial-aggregates to n_lang rows.",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # persist the n_lang-row count table: tot and rates both consume it, and
    # without the pin each side would re-scan the corpus (self-join lineage
    # recompute — see NOTES perf lessons)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).transform(persist_tracked)
    wts = counts.select(
        "lang",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("s"),
    )
    tot = wts.agg(F.sum("s").alias("ssum"), F.sum("c").alias("n"))
    rates = wts.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(MIX_RESOLUTION).cast("long"),
            F.expr(
                f"(((n * {MIX_TARGET_PCT}) DIV 100) * s *"
                f" {MIX_RESOLUTION}) DIV (ssum * c)"
            ),
        ).alias("keep_p100k"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(hash_bucket(F.col("doc_id"), MIX_RESOLUTION) < F.col("keep_p100k"))
        .select("doc_id", "lang", "keep_p100k")
    )


SPLIT_TRAIN, SPLIT_VAL = 80, 90  # bucket boundaries: 80/10/10


@register(
    "sample_split_assign",
    oracle=f"""
SELECT doc_id, lang,
       {_hash_bucket_sql('doc_id')} AS bucket,
       CASE WHEN {_hash_bucket_sql('doc_id')} < {SPLIT_TRAIN} THEN 'train'
            WHEN {_hash_bucket_sql('doc_id')} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    doc="Deterministic train/val/test assignment (80/10/10 by hash bucket):"
    " every row gets a split label that is a pure function of its key, so"
    " the same document lands in the same split across reruns, engines,"
    " repartitioning, and incremental corpus growth — the property that"
    " prevents silent eval-set leakage over a dataset's lifetime."
    "  Complements sample_hash_deterministic (rate threshold): this is a"
    " total partition of the corpus, not a subset.  Row-local, no shuffle.",
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return d.select(
        "doc_id", "lang", bucket.alias("bucket"), split.alias("split")
    )
