"""Shared seeded nearest-centroid domain-assignment machinery.

Extracted from ``operators/domain_label.py`` so the per-domain quality
profile (``operators/quality_profile.py``) can compose the assignment
WITHOUT importing the registering module.  All
semantics documented in operators/domain_label.py's module docstring:
decimal-mean centroids from the deterministic seed subset, argmax-cosine
assignment as a broadcast-cross + partial-aggregatable struct-MIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.embed import DIM, cosine, cosine_sql, dbl
from sql2all_spark.tables import load_table

SEED_MOD = 7  # vec_id % SEED_MOD == 0 -> labeled seed row


def seed_centroids(vecs: DataFrame) -> DataFrame:
    """k-row (c_label, cv) centroid table: per-(label, dim) decimal
    means over the seed subset, reassembled via array_sort on
    (dim, m) structs (fixes collect_list's order nondeterminism)."""
    return (
        vecs.filter(F.col("vec_id") % SEED_MOD == 0)
        .select("label", F.posexplode("v").alias("dim0", "val"))
        .groupBy(F.col("label").alias("c_label"), F.col("dim0"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("m")
        )
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim0"), F.col("m")))
                ),
                lambda s: s.getField("m"),
            ).alias("cv")
        )
    )


def load_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v): the embeddings table with a double[] vector."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", dbl(F.col("embedding")).alias("v"))


def assigned_domains(
    vecs: DataFrame, with_true_label: bool = False
) -> DataFrame:
    """(vec_id, domain[, true_label]): every vector's argmax-cosine
    centroid via broadcast-cross + struct-MIN on (negated rounded
    cosine, label) — map-side combine collapses the k candidate rows
    per vector before the exchange (never a row_number window)."""
    fields = [F.col("nc").alias("nc"), F.col("c_label").alias("c_label")]
    if with_true_label:
        fields.append(F.col("label").alias("label"))
    assigned = (
        vecs.crossJoin(F.broadcast(seed_centroids(vecs)))
        .withColumn("nc", -F.round(cosine(F.col("v"), F.col("cv")), 6))
        .groupBy("vec_id")
        .agg(F.min(F.struct(*fields)).alias("b"))
    )
    cols = ["vec_id", F.col("b.c_label").alias("domain")]
    if with_true_label:
        cols.append(F.col("b.label").alias("true_label"))
    return assigned.select(*cols)


def assign_ctes() -> str:
    """DuckDB twin of the assignment chain: CTEs ``vecs`` .. ``assign``
    (rk = 1 rows carry each vec_id's domain in ``c_label``), WITHOUT a
    leading WITH.  Identical arithmetic to the operator oracles in
    operators/domain_label.py."""
    cos = cosine_sql("v.v", "c.cv")
    return f"""vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sdims AS (
  SELECT label,
         UNNEST(range(1, {DIM} + 1)) AS dim,
         UNNEST(v) AS val
  FROM vecs WHERE vec_id % {SEED_MOD} = 0
),
cent AS (
  SELECT label AS c_label, dim,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS m
  FROM sdims GROUP BY label, dim
),
cvec AS (
  SELECT c_label, list(m ORDER BY dim ASC) AS cv FROM cent GROUP BY c_label
),
assign AS (
  SELECT v.vec_id, c.c_label,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({cos}, 6) DESC, c.c_label ASC) AS rk
  FROM vecs v CROSS JOIN cvec c
)"""
