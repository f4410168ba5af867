"""pHash dup clustering: connected components over the perceptual-hash
near-dup pair graph — the multimodal twin of ``dedup_clusters_star``.

Composes two existing primitives: ``mm_phash_neardup`` (banded Hamming
candidate join over Arrow-batched pHash signatures) supplies the edges,
and ``graph.star_components`` (alternating large-star/small-star,
Kiveris et al.) contracts them in O(log d) rounds.  This is the step a
real image-dedup pipeline runs after pairwise mining: group the near-dup
images into clusters, keep one representative per cluster, drop the
rest.  At 100 TB the edge list is candidate-density-bounded (never
all-pairs — the banded join shape), the star rounds exchange slim
(u, v) long pairs only, and convergence needs two scalar aggregates per
round (no data collect).

Reference parity: SQL2ALL has no multimodal surface at all (its 658-line
core delegates SQL strings to an attached DB — src/db/sqlite.rs:79); this
family exists for the 100 TB training-data-pipeline north star.

Oracle: the blocking-agnostic all-pairs pHash pair SQL (replaying the
stub codec's md5 bit-votes — multimodal_shared.py) feeds a recursive-CTE
transitive closure, min reachable id per node — the same fixpoint the
star contraction converges to, computed declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.operators.multimodal_shared import phash_pairs_oracle
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


@register(
    "mm_phash_clusters",
    oracle=f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({phash_pairs_oracle()}) all_pairs
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u
),
comp AS (
  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS is_keeper,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
""",
    doc="Connected components over the pHash near-dup graph (multimodal"
    " dedup clustering): mm_phash_neardup's banded Hamming pairs contracted"
    " by alternating large-star/small-star in O(log d) rounds; every media"
    " doc gets a cluster label, keeper = min doc_id per cluster.  Edges and"
    " star rounds shuffle slim long pairs only; Python touches each payload"
    " exactly once (inside the neardup signature codec).",
)
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from sql2all_spark.operators.graph import star_components
    from sql2all_spark.operators.multimodal import mm_phash_neardup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = mm_phash_neardup(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels, _ = star_components(pairs)
    singles = docs.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    all_labels = labels.unionByName(singles)
    return all_labels.select(
        "doc_id",
        "cluster_id",
        F.when(F.col("doc_id") == F.col("cluster_id"), 1)
        .otherwise(0)
        .alias("is_keeper"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )
