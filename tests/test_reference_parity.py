"""Reference test-strategy parity (SURVEY.md §5).

The reference ships exactly three test artifacts, reproduced here against
our engine:
1. a dead `Payment` test-data generator (``src/db/mysql.rs:119-157``):
   customer_id ∈ [1,1000), amount ∈ [10,1000), account_name =
   "Account {1..100}" with p=0.5 else NULL — regenerated here (seeded,
   deterministic) and actually USED, unlike in the reference;
2. a parquet read-back smoke test (``src/db/mysql.rs:159-176``) — ours
   asserts values, not just a printed count;
3. the README acceptance queries (``README.md:36-42``):
   ``select * from payment`` exported per-format — run through the real
   ``export()`` API.
"""

from __future__ import annotations

import numpy as np
import pytest

from sql2all_spark.export import export

N_ROWS = 2000
SEED = 42


@pytest.fixture(scope="module")
def payment_parquet(spark, tmp_path_factory):
    """Deterministic regeneration of the reference's Payment distribution."""
    rng = np.random.RandomState(SEED)
    customer_id = rng.randint(1, 1000, size=N_ROWS)
    amount = rng.randint(10, 1000, size=N_ROWS)
    has_name = rng.rand(N_ROWS) < 0.5
    account_n = rng.randint(1, 100, size=N_ROWS)
    rows = [
        (
            int(customer_id[i]),
            int(amount[i]),
            f"Account {account_n[i]}" if has_name[i] else None,
        )
        for i in range(N_ROWS)
    ]
    df = spark.createDataFrame(
        rows, "customer_id int, amount int, account_name string"
    )
    path = str(tmp_path_factory.mktemp("ref") / "payment.parquet")
    df.write.parquet(path)
    return path


def test_payment_distribution(spark, payment_parquet):
    df = spark.read.parquet(payment_parquet)
    from pyspark.sql import functions as F

    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("customer_id").alias("cmin"),
        F.max("customer_id").alias("cmax"),
        F.min("amount").alias("amin"),
        F.max("amount").alias("amax"),
        F.sum(F.col("account_name").isNull().cast("int")).alias("n_null"),
    ).collect()[0]
    assert stats.n == N_ROWS
    assert 1 <= stats.cmin and stats.cmax < 1000  # mysql.rs:137 gen_range(1..1000)
    assert 10 <= stats.amin and stats.amax < 1000  # mysql.rs:140 gen_range(10..1000)
    # account_name nullable with p=0.5 (mysql.rs:143-151)
    assert 0.4 * N_ROWS < stats.n_null < 0.6 * N_ROWS


@pytest.mark.parametrize("ext", ["parquet", "csv", "ndjson", "orc"])
def test_readme_acceptance_select_star(spark, payment_parquet, tmp_path, ext):
    """README.md:36-42: `select * from payment` exported to each format,
    then read back — the reference's de-facto acceptance test, with value
    assertions the reference never had."""
    out = str(tmp_path / f"payment_out.{ext}")
    df = export(
        spark,
        f"parquet://{payment_parquet}",
        "SELECT * FROM src",
        out,
    )
    assert df.count() == N_ROWS
    fmt = "json" if ext == "ndjson" else ext
    reader = spark.read.schema(df.schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    back = reader.format(fmt).load(out)
    assert back.count() == N_ROWS
    # order-insensitive value equality (1-row smoke in the reference,
    # full-table here)
    assert sorted(map(tuple, back.fillna(-1).collect())) == sorted(
        map(tuple, df.fillna(-1).collect())
    )
