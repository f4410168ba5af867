"""Dedup clustering: connected components over the near-duplicate pair
graph — the step that turns pairwise similarity into actionable dedup
decisions (one keeper per cluster, drop the rest).

Algorithm (:func:`star_components`): the edge list is checkpointed and
counted.  An edge list within ``looputil.LOCAL_LOOP_MAX_ROWS`` rows is
collected once and labelled by union-find on the driver (min-label
roots), with no Spark job per round.  A larger one runs
alternating large-star/small-star contraction (Kiveris et al.): every
round rewires edges toward smaller node ids; at the fixpoint the edge
set is a star forest whose centers are the component minima.  Rounds
needed = O(log d) for component diameter d, so deep chains (drifted
successive revisions) stay cheap.  Each round is three exchanges on the
slim edge list, its lineage truncated through ``cache.checkpoint_tracked``,
and only a scalar convergence signature reaches the driver every other
round.  Both registered names (``dedup_clusters`` and
``dedup_clusters_star``) run the same builder against the same oracle.

Oracle: DuckDB recursive CTE computes the transitive closure and takes the
min reachable id per node — exact same fixpoint, declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from sql2all_spark.cache import checkpoint_tracked, persist_tracked
from sql2all_spark.operators.dedup import dedup_ngram_jaccard
from sql2all_spark.operators.dedup_shared import (
    CLUSTER_JACCARD_FLOOR,
    NGRAM_PAIRS_ORACLE,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

MAX_ROUNDS = 25  # safety bound ≫ log2 of any real near-dup cluster diameter

CLUSTERS_ORACLE = f"""
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
       CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS is_keeper,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
"""


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node connects its STRICTLY LARGER neighbors to the
    minimum of its neighborhood (incl. itself).  Output edges are directed
    (larger, smaller); no self-loops possible since min ≤ u < v.

    The neighborhood minimum is a window MIN over the symmetrized edge
    list instead of the groupBy-then-self-join formulation: one exchange
    per round where the join formulation needed three (group, join
    probe, output distinct).  Output rows may repeat — the small-star
    half's terminal distinct dedups once per round, which is cheaper
    than a distinct per half (guide §2.4: fewer exchanges outright)."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node connects ALL its smaller-or-equal
    neighbors (and itself) to the minimum among them.

    Same window-MIN restructuring as :func:`_large_star` (the window is
    insensitive to the duplicate rows large-star may now emit), with the
    ONE terminal distinct of the combined round: 3 exchanges per
    large+small round total, versus 7 for the groupBy/join/distinct
    formulation."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    wd = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    out = wd.select(F.col("v").alias("u"), F.col("m").alias("v")).filter(
        F.col("u") != F.col("v")
    ).unionByName(wd.select("u", F.col("m").alias("v")))
    return out.distinct()


def _union_find_labels(edges: list) -> list[tuple]:
    """(node, component minimum) for every node on a non-self-loop edge.
    Self-loops are skipped because the contraction drops them too
    (large-star keeps v > u, small-star filters u != v), so a node whose
    only edge is a self-loop gets no label on either path."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(parent.setdefault(u, u)), find(parent.setdefault(v, v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)  # the root is the minimum
    return [(x, find(x)) for x in parent]


def star_components(edges: DataFrame, max_rounds: int = MAX_ROUNDS) -> tuple[DataFrame, int]:
    """Connected components of an edge list.

    ``edges``: (u, v) pair DataFrame (direction irrelevant).  Returns
    ``(labels, n_rounds)`` where labels is (doc_id, cluster_id) for every
    node that appears in a non-self-loop edge, cluster_id = min node id
    of its component, both of the edge columns' type.

    An edge list within ``looputil.LOCAL_LOOP_MAX_ROWS`` rows is
    collected once and labelled by union-find on the driver;
    ``n_rounds`` is then 0.  A larger one runs alternating
    large-star/small-star contraction, which converges in O(log d)
    rounds (d = component diameter) versus min-label propagation's
    O(d) — the scale-safe variant when clusters can be deep chains.

    Convergence detection: the edge set only moves "downhill" (every round
    replaces edges with edges to smaller targets), so an unchanged
    (count, hash-xor) signature ⇔ a fixpoint — two scalar aggregates
    every other round, no data collect."""
    from sql2all_spark.looputil import (
        collect_if_bounded,
        loop_shuffle_partitions,
    )

    # eager=False: the gate's count materializes the checkpoint blocks
    e = checkpoint_tracked(edges.select("u", "v"), eager=False)
    local = collect_if_bounded(e)
    if local is not None:
        t = e.schema["u"].dataType
        schema = StructType(
            [StructField("doc_id", t), StructField("cluster_id", t)]
        )
        return e.sparkSession.createDataFrame(_union_find_labels(local), schema), 0
    prev_sig = None
    rounds = 0
    # Loop shuffles sized from the materialized edge count (looputil):
    # the session width is for corpus-scale frames, and every round here
    # re-shuffles a slim bounded edge set O(log d) times.
    with loop_shuffle_partitions(e):
        while rounds < max_rounds:
            # eager=False: each round's lineage is truncated NOW (the
            # next round builds on a leaf RDD — plans never compose, so
            # no subtree duplication) but the blocks materialize inside
            # whichever job first executes them.
            e = checkpoint_tracked(
                _small_star(_large_star(e)), eager=False
            )
            rounds += 1
            # Convergence signature every OTHER round (r17, VERDICT r16
            # #6): the loop's cost at small edge sets is the per-round
            # driver floor (job scheduling + the collect round trip —
            # measured ~0.4 s against ~0.1 s of executor work), and
            # contraction is idempotent at the fixpoint, so checking
            # every second round halves the job count at the cost of at
            # most one extra (no-op) contraction.  The skipped round's
            # checkpoint blocks materialize lazily inside the next
            # signature job (one job per pair, both rounds' stages).
            # NOTE: composing the two contractions into one un-truncated
            # plan instead was tried and measured 2x WORSE — each
            # contraction references its input several times (sym union,
            # window reuse), so an un-truncated pair re-executes the
            # inner contraction combinatorially.
            if rounds % 2 == 1 and rounds < max_rounds:
                continue
            # bit_xor, not sum: xor of 64-bit hashes cannot overflow under
            # ANSI mode; the edge set is distinct so xor-of-set detects change
            sig = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
            sig = (sig.n, sig.h)
            if sig == prev_sig:
                break
            prev_sig = sig
        else:  # pragma: no cover - log2(diameter) ≪ max_rounds
            raise RuntimeError(
                f"star rounds did not converge in {max_rounds}"
            )
    # Fixpoint edge set is a star forest: (member, center) for every
    # non-center member.  Centers label themselves.
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    centers = e.select(F.col("v").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return members.unionByName(centers).distinct(), rounds


@register(
    "dedup_clusters_star",
    oracle=CLUSTERS_ORACLE,
    doc="The same connected components as dedup_clusters under the name"
    " that states the algorithm: alternating large-star/small-star"
    " (Kiveris et al.) — O(log d) rounds, the variant to reach for when dup"
    " clusters can be long chains (e.g. drifted successive revisions)."
    "  Same builder, same oracle; a pytest proves the round bound on a"
    " deliberately deep chain.",
)
@register(
    "dedup_clusters",
    oracle=CLUSTERS_ORACLE,
    doc="Connected components over the n-gram-Jaccard near-dup graph via"
    " alternating large-star/small-star contraction; every document gets a"
    " cluster_id (= min doc_id in its component), a keeper flag, and the"
    " cluster size.  Singletons are their own keeper.  The oracle computes"
    " the same fixpoint with a recursive-CTE transitive closure.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_JACCARD_FLOOR)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    # Only nodes that HAVE an edge enter the loop: with a high similarity
    # floor almost every doc is a singleton, so the loop runs over
    # hundreds of rows, not the corpus.  Singletons rejoin here as their
    # own keeper with cluster_size 1.
    labels, _ = star_components(pairs)
    singles = docs.join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    all_labels = labels.unionByName(singles)
    return all_labels.select(
        "doc_id",
        "cluster_id",
        F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0).alias(
            "is_keeper"
        ),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )


dedup_clusters_star = dedup_clusters


PR_SCALE = 1_000_000_000  # ranks as scaled integers → exact in both engines
PR_ITERS = 3
PR_TOP = 20


@register(
    "graph_pagerank_suppliers",
    oracle=f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
r1 AS (
  SELECT e.dst AS node,
         CAST({15 * PR_SCALE // 100} + 85 * SUM(r0.rank // d.outdeg) // 100 AS BIGINT) AS rank
  FROM e JOIN r0 ON e.src = r0.node JOIN deg d ON d.node = e.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         CAST({15 * PR_SCALE // 100} + 85 * SUM(r1.rank // d.outdeg) // 100 AS BIGINT) AS rank
  FROM e JOIN r1 ON e.src = r1.node JOIN deg d ON d.node = e.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         CAST({15 * PR_SCALE // 100} + 85 * SUM(r2.rank // d.outdeg) // 100 AS BIGINT) AS rank
  FROM e JOIN r2 ON e.src = r2.node JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)
SELECT CAST((node - 1) // 2 AS BIGINT) AS suppkey, rank
FROM r3 WHERE node % 2 = 1
ORDER BY rank DESC NULLS LAST, suppkey ASC NULLS FIRST
LIMIT {PR_TOP}
""",
    doc=f"PageRank ({PR_ITERS} fixed iterations, damping 0.85) over the"
    " bipartite customer↔supplier purchase graph — graph centrality on"
    " relational data, the second iterative-algorithm shape next to"
    " sim_kmeans_iteration.  Cross-engine EXACT by construction: ranks are"
    f" scaled integers (×{PR_SCALE}) and every step is integer"
    " multiply/divide (floor semantics identical in both engines), so no"
    " float summation order can differ.  Each iteration is one slim"
    " (node, rank) join + partial-aggregated shuffle; edges and degrees"
    " are computed once and persisted.  The oracle unrolls the same"
    " iterations as chained CTEs.",
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # The edge list is slim (two longs/row) and iterated 3×: pre-partition
    # it ONCE on the join key at a width matched to its size, and fold the
    # degree in as a column — each iteration is then exactly one co-
    # partitioned join + one partial-aggregated shuffle, with no extra
    # exchange for degrees.  (At cluster scale raise the width or drop the
    # explicit repartition and let the shuffle conf govern; the plan shape
    # is unchanged.)
    e = (
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(8, "src")
        .transform(persist_tracked)
    )
    ed = e.join(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    ).transform(persist_tracked)
    ranks = (
        ed.select("src").distinct().select("src", F.lit(PR_SCALE).cast("long").alias("rank"))
    )
    base = 15 * PR_SCALE // 100
    for _ in range(PR_ITERS):
        contrib = (
            ed.join(ranks.withColumnRenamed("src", "node"), ed.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div outdeg")).alias("c"))
        )
        ranks = contrib.select(
            F.col("dst").alias("src"),
            (F.lit(base) + F.expr("85 * c div 100")).alias("rank"),
        )
    result = (
        ranks.filter(F.col("src") % 2 == 1)
        .select(
            ((F.col("src") - 1) / 2).cast("long").alias("suppkey"), "rank"
        )
        .orderBy(F.col("rank").desc_nulls_last(), F.col("suppkey").asc_nulls_first())
        .limit(PR_TOP)
    )
    # Materialize the (tiny, PR_TOP-row) result eagerly so the cached edge
    # blocks can be freed NOW: without this, repeated invocations in one
    # session accumulate e/ed blocks in the BlockManager for the life of the
    # session ("block already exists" warnings on re-run).  The result no
    # longer references the iterative plan, so unpersisting cannot force a
    # recompute.
    result = checkpoint_tracked(result)
    ed.unpersist()
    e.unpersist()
    return result
