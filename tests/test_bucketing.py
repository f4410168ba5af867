"""Bucketed-table co-located joins: the pre-shuffle that makes repeated
fact-fact joins shuffle-free.

At 100 TB, lineitem⋈orders on every query means shuffling both fact tables
every time.  Writing both bucketed by the join key (same bucket count)
pre-partitions them on disk; Spark's bucket join then reads matching
buckets pairwise — NO exchange on either side, verified here against the
physical plan.  This is SURVEY.md §2.B "repartition()/bucketing for
co-located joins" made concrete.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sql2all_spark.plans import physical_plan

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    # external tables via explicit path options — the session's warehouse
    # dir is a static conf we can't change here
    wh = tmp_path_factory.mktemp("warehouse")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    (
        orders.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(wh / "orders_b"))
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(wh / "lineitem_b"))
        .saveAsTable("lineitem_b")
    )
    yield spark.table("orders_b"), spark.table("lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    orders_b, lineitem_b = bucketed
    # disable broadcast so the join exercises the bucket path, as it would
    # at a scale where neither side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = orders_b.join(
            lineitem_b, orders_b.o_orderkey == lineitem_b.l_orderkey
        ).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        plan = physical_plan(joined)
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the join inputs must come straight from the bucketed scans —
        # no Exchange between scan and join on either side
        before_agg = plan.split("MergeJoin")[-1] if "MergeJoin" in plan else join_section
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed):
    orders_b, lineitem_b = bucketed
    got = (
        orders_b.join(lineitem_b, orders_b.o_orderkey == lineitem_b.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_writes_run_in_callers_job_group(spark, sf_dir):
    """The two bucketed writes run on pool threads; every job they start
    must carry the caller's job group, so ``cancelJobGroup`` reaches them
    and per-group job counts see them."""
    from sql2all_spark.operators.bucketing import write_bucketed_tables

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test.bucketed_build"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "bucketed build")
    try:
        write_bucketed_tables(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
