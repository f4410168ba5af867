"""Core relational spine: scan → project → filter → aggregate → sort → limit.

The reference forwards these verbatim to its source DB (``src/db/sqlite.rs:79``,
``src/db/mysql.rs:91``, ``src/db/postgresql.rs:97``); here they are native
DataFrame plans that Catalyst compiles with parquet filter pushdown + column
pruning + whole-stage codegen.

Scale notes (100 TB): every query here is embarrassingly parallel except the
final aggregation, which uses Spark's automatic partial (map-side) aggregation
— the shuffle carries only ``#groups × #partitions`` rows, not the scan.  The
ORDER BY on aggregated output sorts a tiny relation.  Filters and projections
reach the parquet reader (the plan-audit tests in ``tests/test_plans.py``
assert ``PushedFilters``/``ReadSchema`` on the physical plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.exact import davg, davg_sql, dsum, dsum_sql
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


@register(
    "q1_pricing_summary",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  ROUND({dsum_sql('l_extendedprice * (1 - l_discount)', 8)}, 2) AS sum_disc_price,
  ROUND({dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 8)}, 2) AS sum_charge,
  {davg_sql('l_quantity')} AS avg_qty,
  {davg_sql('l_extendedprice')} AS avg_price,
  {davg_sql('l_discount', 4)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    doc="Flagship pricing-summary (TPC-H Q1 shape): filter → groupBy →"
    " sum/avg/count → sort.  Exercises the whole relational spine.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.round(dsum(disc_price, 8), 2).alias("sum_disc_price"),
            F.round(dsum(charge, 8), 2).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "projection_expressions",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1 - l_discount) AS net_price,
  CAST(l_quantity AS BIGINT) AS qty_int,
  l_returnflag || '/' || l_linestatus AS flag_status
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
    doc="SELECT expr AS name: arithmetic, cast, string concat. Row-level, no"
    " shuffle; projection is pruned to 7 of 11 parquet columns.",
)
def projection_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@register(
    "filter_predicates",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('F', 'O')
  AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderpriority LIKE '%URGENT%'
  AND NOT (o_custkey IS NULL)
  AND o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
""",
    doc="WHERE with AND/NOT, IN, BETWEEN, LIKE, IS NULL — all pushed to the"
    " parquet scan as PushedFilters.",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderpriority").like("%URGENT%")
        & ~F.col("o_custkey").isNull()
        & (F.col("o_orderdate") >= F.lit("1995-06-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "sort_limit_offset",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST
LIMIT 50 OFFSET 10
""",
    doc="ORDER BY + LIMIT/OFFSET.  Spark plans a TakeOrderedAndProject —"
    " per-partition top-(k+offset) then a single-partition merge; no full sort"
    " of 100 TB ever happens.  Tie-broken on the unique key for determinism.",
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(
            F.col("o_totalprice").desc_nulls_last(),
            F.col("o_orderkey").asc_nulls_first(),
        )
        .offset(10)
        .limit(50)
    )


@register(
    "distinct_values",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus
FROM lineitem
""",
    doc="DISTINCT → hash aggregate with map-side partial dedup; shuffle"
    " carries only distinct pairs per partition.",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "case_when_conditional",
    oracle="""
SELECT
  c_custkey,
  CASE
    WHEN c_acctbal < 0 THEN 'overdrawn'
    WHEN c_acctbal < 5000 THEN 'standard'
    ELSE 'premium'
  END AS tier,
  COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
  NULLIF(c_nationkey, 0) AS nation_or_null
FROM customer
""",
    doc="CASE WHEN / COALESCE / NULLIF — conditional scalar surface.",
)
def case_when_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nation_or_null"),
    )
