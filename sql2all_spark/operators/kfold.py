"""Group-aware k-fold splits: fold assignment by NEAR-DUP CLUSTER, not by
document — the leakage-safe cross-validation split a real training
pipeline needs (VERDICT r10 next-round item 4; the scikit-learn
GroupKFold contract applied to dedup clusters).

``sample_split_assign`` hashes each doc_id independently, so two
near-duplicate documents can land in train and eval — at which point the
eval score measures memorization of the duplicated passage, not
generalization (Lee et al. 2022 §6 measure exactly this leakage).  Here
the hash key is the document's dedup CLUSTER id (connected components
over the n-gram-Jaccard near-dup graph, the dedup_clusters fixpoint), so
an entire near-dup cluster moves as one unit: no cluster — hence no
near-dup pair — ever straddles folds.  Fold membership stays a pure
function of content (cluster id = min doc_id of the component), so it is
stable across reruns, engines, repartitioning, and corpus growth, the
same property the doc-level splits pin.

Scale shape: cluster labels come from the O(log d) large/small-star
components (graph.star_components) over edges that exist only for docs
with a near-dup pair (the corpus-scale majority are singletons that
never enter the loop); fold assignment itself is one row-local md5
bucket — no extra shuffle beyond the label join.

Reference parity: SQL2ALL has no sampling/dedup surface (658-line core
delegates SQL to the attached DB — src/db/sqlite.rs:79); LLM-pipeline
extension surface (SURVEY.md §2 extension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.hashing import hash_bucket, hash_bucket_sql
from sql2all_spark.operators.dedup_shared import (
    CLUSTER_JACCARD_FLOOR,
    NGRAM_PAIRS_ORACLE,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

K_FOLDS = 5

GROUP_KFOLD_ORACLE = f"""
WITH RECURSIVE
pairs AS (
  SELECT * FROM ({NGRAM_PAIRS_ORACLE}) all_pairs
  WHERE jaccard >= {CLUSTER_JACCARD_FLOOR}
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
       CAST({hash_bucket_sql('cluster_id', K_FOLDS)} AS INT) AS fold,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


@register(
    "sample_group_kfold",
    oracle=GROUP_KFOLD_ORACLE,
    doc=f"Group-aware {K_FOLDS}-fold split: every document's fold is a"
    " deterministic md5 bucket of its near-dup CLUSTER id (connected"
    " components over the n-gram-Jaccard graph, O(log d) star rounds), so"
    " near-duplicate documents can never straddle train/eval folds — the"
    " leakage-safe alternative to doc-level sample_split_assign (Lee et"
    " al. 2022 §6).  Cluster labels cost one component pass over edge-"
    " bearing docs only; the fold itself is row-local, no added shuffle.",
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from sql2all_spark.operators.dedup import dedup_ngram_jaccard
    from sql2all_spark.operators.graph import star_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_JACCARD_FLOOR)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    labels, _ = star_components(pairs)
    singles = docs.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    all_labels = labels.unionByName(singles)
    return all_labels.select(
        "doc_id",
        "cluster_id",
        hash_bucket(F.col("cluster_id"), K_FOLDS).cast("int").alias("fold"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )
