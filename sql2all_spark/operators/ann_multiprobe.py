"""Multi-probe batch ANN over the stored LSH index — the bucket-JOIN
variant that ``query_ann_index``'s single-probe contract points to.

Multi-probe LSH (Lv et al., VLDB 2007): instead of growing the number of
hash tables to recover recall, each query ALSO probes the buckets whose
signatures sit within Hamming distance 1 of its own — near neighbors
that fell on the wrong side of one hyperplane land exactly there.  Here
a BATCH of probes each expands to its own bucket + the 6 one-bit-flip
neighbors (7 buckets/probe), and the expansion joins the stored
bucket-partitioned index ON THE BUCKET COLUMN — the shape the
single-probe operator documents as the required evolution of its O(1)
driver-scalar lookup (`similarity.py query_ann_index`): one collect per
probe would serialize the batch, a bucket join keeps it one pass.

Scale shape: the probe×bucket expansion is rows = probes × (bits+1) —
broadcast; the index side is scanned once, candidates are
bucket-equi-joined (never all-pairs), exact cosine runs on candidates
only, and the per-probe top-k is a window over candidate rows (bounded
by bucket occupancy × 7).  No corpus shuffle: the only exchange after
the scan carries candidate rows keyed by probe for the ranking window.

Recall story (verified by an invariant test): the candidate set of each
probe is a SUPERSET of the single-bucket operator's, so multi-probe
top-k cosine is >= single-probe top-k cosine, rank for rank.

Reference parity: SQL2ALL has no vector surface (its 658-line core
delegates SQL strings to the attached DB — src/db/sqlite.rs:79); the
similarity family exists for the 100 TB LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.embed import N_PLANES, cosine_sql, sign_bucket_sql
from sql2all_spark.functions.embed import cosine as _cosine
from sql2all_spark.registry import register

MP_PROBE_IDS = [0, 1, 2, 3]  # the query batch
MP_TOPK = 5


def _flip_bit(bucket: Column, j: int) -> Column:
    """Bucket signature with bit j (0-based) flipped — a Hamming-1 probe."""
    flipped = F.when(F.substring(bucket, j + 1, 1) == "1", "0").otherwise("1")
    return F.concat(
        F.substring(bucket, 1, j),
        flipped,
        F.substring(bucket, j + 2, N_PLANES - j - 1),
    )


def _flip_bit_sql(bucket: str, j: int) -> str:
    return (
        f"substr({bucket}, 1, {j}) ||"
        f" (CASE WHEN substr({bucket}, {j + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substr({bucket}, {j + 2}, {N_PLANES - j - 1})"
    )


def _mp_oracle() -> str:
    probes = ", ".join(str(i) for i in MP_PROBE_IDS)
    expand = ", ".join(
        ["qbucket"] + [_flip_bit_sql("qbucket", j) for j in range(N_PLANES)]
    )
    cos = cosine_sql("s.v", "p.qv")
    return f"""
WITH sigs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         {sign_bucket_sql("CAST(embedding AS DOUBLE[])")} AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id AS probe_id, v AS qv, bucket AS qbucket
  FROM sigs WHERE vec_id IN ({probes})
),
pbuckets AS (
  SELECT probe_id, qv, UNNEST([{expand}]) AS pbucket FROM probes
),
cand AS (
  SELECT p.probe_id, s.vec_id, s.label, s.bucket,
         ROUND({cos}, 6) AS cosine
  FROM sigs s JOIN pbuckets p ON s.bucket = p.pbucket
  WHERE s.vec_id <> p.probe_id
),
ranked AS (
  SELECT probe_id, vec_id, label, bucket, cosine,
         ROW_NUMBER() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC NULLS LAST,
                                     vec_id ASC NULLS FIRST) AS rk
  FROM cand
)
SELECT probe_id, CAST(rk AS INT) AS rk, vec_id, label, bucket, cosine
FROM ranked WHERE rk <= {MP_TOPK}
"""


@register(
    "sim_ann_multiprobe",
    oracle=_mp_oracle(),
    doc="Multi-probe batch ANN over the stored LSH index (Lv et al. 2007):"
    f" {len(MP_PROBE_IDS)} probes each expand to their own bucket plus the"
    f" {N_PLANES} Hamming-1 neighbor buckets, the expansion joins the"
    " bucket-partitioned index on the bucket column (the batch evolution"
    " of query_ann_index's single-probe driver-scalar pruning), exact"
    " cosine on candidates only, per-probe top-k window.  Probe side"
    " broadcast end-to-end; index scanned once; no corpus shuffle —"
    " candidates alone cross the exchange for ranking.  An invariant test"
    " pins the recall guarantee: per-rank cosine >= the single-bucket"
    " operator's.",
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from sql2all_spark.operators.similarity import (
        ANN_INDEX_SCHEMA,
        build_ann_index,
    )

    path = build_ann_index(spark, sf_dir)
    idx = spark.read.schema(ANN_INDEX_SCHEMA).parquet(path)
    # probes come from the index itself: identical signature rows
    probes = idx.filter(F.col("vec_id").isin(MP_PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    expanded = probes.select(
        "probe_id",
        "qv",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[_flip_bit(F.col("qbucket"), j) for j in range(N_PLANES)],
            )
        ).alias("pbucket"),
    )
    cand = (
        idx.join(F.broadcast(expanded), idx["bucket"] == expanded["pbucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            "bucket",
            F.round(_cosine(F.col("v"), F.col("qv")), 6).alias("cosine"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("probe_id").orderBy(
            F.col("cosine").desc_nulls_last(), F.col("vec_id").asc_nulls_first()
        )
    )
    return (
        cand.withColumn("rk", rk.cast("int"))
        .filter(F.col("rk") <= MP_TOPK)
        .select("probe_id", "rk", "vec_id", "label", "bucket", "cosine")
    )
