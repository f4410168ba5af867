"""Write-side bucketing: the co-located fact-fact join.

The single most expensive thing a 100 TB Spark job does is shuffle a fact
table to join it.  Bucketing removes that shuffle FROM THE WRITE PATH:
both tables are written pre-hash-partitioned on the join key into the
same number of buckets (``DataFrameWriter.bucketBy`` + ``saveAsTable``,
Hive-compatible bucket layout), and every later equi-join on that key
reads bucket i of one table against bucket i of the other — no Exchange
in the plan, ever, however many times the join runs.  This is the
write-amortized counterpart of ``join_skew_salted`` (runtime mitigation)
and the join-side twin of ``layout_zorder_cluster`` (scan pruning); the
same trade Hive bucketed tables, Iceberg bucket transforms, and Delta
liquid clustering make.

``layout_bucketed_join`` materializes slim orders/lineitem projections
bucketed 8-ways on the order key under /tmp, then runs the revenue
rollup THROUGH the bucketed tables with a merge-join hint.  The plan
audit (tests/test_plans.py) asserts the join subtree contains no
Exchange — the property that holds unchanged at 1000 executors.  The
oracle replays the same join+agg on the raw parquet, proving the
bucketed layout changes the PLAN, not the answer.

Cost note: the builder re-writes the bucketed tables each invocation so
the operator is self-contained and the bench measures the full
write+join cycle (same policy as ``build_ann_index``); a production
pipeline writes once and joins many times.

Reference parity note: the reference's sink is one unpartitioned file
(``src/lib.rs:96``, ``ArrowWriter`` with default properties) — no layout
surface exists there; this is part of the beyond-reference scale family.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.exact import dsum, dsum_sql
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table, scratch_root

N_BUCKETS = 8


# Bucket files live under the per-process tables.scratch_root(); catalog
# table names carry the same per-process suffix so two local sessions
# sharing a metastore do not collide.
def _sf_key(sf_dir: str) -> str:
    sf = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/"))
    # per-process disambiguator: pid + the FULL sanitized tempdir basename
    # (mkdtemp's random suffix may itself contain underscores, so taking
    # everything after the last one could shrink to 0-2 chars — ADVICE r9)
    base = re.sub(r"[^0-9a-zA-Z]", "", os.path.basename(scratch_root())).lower()
    return f"{sf}_p{os.getpid()}_{base}"


def write_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize slim orders/lineitem projections bucketed on the order
    key; returns the two table names.  ``bucketBy`` requires the table
    write path (bucket metadata lives in the catalog, not the files), so
    these are external tables rooted under the per-process tempdir."""
    key = _sf_key(sf_dir)
    t_orders, t_lineitem = f"bk_orders_{key}", f"bk_lineitem_{key}"

    # Repartition on the bucket key to the bucket count before writing:
    # the fixture scan is one row group, so without this each bucketed
    # write ran as ONE task serially sorting and writing every bucket's
    # file (§2.5).  Hash-partitioned on the bucket column the write runs
    # N_BUCKETS-wide and each task emits its bucket's file; at
    # production bucket counts (thousands) this is full parallelism.
    def _write(table: str, src: str, cols: list[str], bkey: str) -> None:
        (
            load_table(spark, sf_dir, src)
            .select(*cols)
            .repartition(N_BUCKETS, bkey)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(N_BUCKETS, bkey)
            .sortBy(bkey)
            .option("path", f"{scratch_root()}/bucketed/{key}/{src}")
            .saveAsTable(table)
        )

    # The two writes are independent jobs over disjoint tables — submit
    # them from two driver threads so the second write's tasks back-fill
    # the slots the first one's tail leaves idle (guide §2.6 "overlap
    # independent jobs"); each write occupies at most N_BUCKETS slots of
    # a wider session.  Values untouched: disjoint outputs, same plans.
    # inheritable_thread_target hands each thread the caller's local
    # properties and job tags, so both writes run in the caller's group.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fo = pool.submit(
            inherit(_write), t_orders, "orders",
            ["o_orderkey", "o_orderstatus"], "o_orderkey",
        )
        fl = pool.submit(
            inherit(_write), t_lineitem, "lineitem",
            ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey",
        )
        fo.result()
        fl.result()
    return t_orders, t_lineitem


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located join itself (pre-aggregation) — the subtree the plan
    audit asserts is Exchange-free.  The merge hint pins a sort-merge
    join (a broadcast would also skip the shuffle, but only because the
    test scale is small; bucket-aligned SMJ is the shape that holds when
    BOTH sides are 100 TB facts)."""
    t_orders, t_lineitem = write_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return li.hint("merge").join(
        o, li.l_orderkey == o.o_orderkey, "inner"
    )


@register(
    "layout_bucketed_join",
    oracle=f"""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       ROUND({dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)}, 2)
         AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
ORDER BY o_orderstatus ASC NULLS FIRST
""",
    doc=f"Bucketed co-located fact-fact join: orders and lineitem are"
    f" written {N_BUCKETS}-way bucketed + sorted on the order key, then"
    " the revenue-by-status rollup joins them with ZERO exchanges in the"
    " join subtree — bucket i reads against bucket i, the layout doing"
    " the work a shuffle would (plan-audited in tests/test_plans.py)."
    " At 100 TB this is the difference between re-shuffling two fact"
    " tables on every join and paying the partitioning once at write"
    " time; bucket counts scale with data (8 here, thousands there) and"
    " the plan shape is identical.  The oracle replays the join on raw"
    " parquet: layout changes the plan, not the answer.",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bucketed_join_frame(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.round(dsum(revenue, 8), 2).alias("revenue"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_first())
    )
