"""Source dispatch + export API: the reference's CLI contract end-to-end.

Covers URL-scheme dispatch (``src/lib.rs:47-65``), whole-query SQL against
file sources, the arrow IPC source (parity with the arrow sink), and the
JDBC URL assembly path (no DB server in the container, so JDBC coverage is
the dispatch/URL layer, not a live connection).
"""

from __future__ import annotations

import pytest

from sql2all_spark.export import export
from sql2all_spark.sinks import write_output
from sql2all_spark.sources import read_source, split_scheme


def test_scheme_split():
    assert split_scheme("parquet:///a/b.parquet") == ("parquet", "a/b.parquet")
    assert split_scheme("mysql://host/db") == ("mysql", "host/db")
    with pytest.raises(ValueError, match="unsupported database url"):
        split_scheme("no-scheme-here")


def test_unknown_scheme_raises(spark):
    with pytest.raises(ValueError, match="unsupported database url scheme"):
        read_source(spark, "bogus://x", "SELECT 1")


def test_file_source_runs_query(spark, sf_dir):
    df = read_source(
        spark,
        f"parquet://{sf_dir}/orders.parquet",
        "SELECT o_orderstatus, COUNT(*) AS n FROM src GROUP BY o_orderstatus",
    )
    rows = {r.o_orderstatus: r.n for r in df.collect()}
    assert sum(rows.values()) == 1500


def test_arrow_source_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    )
    path = str(tmp_path / "t.arrow")
    write_output(src, path)
    df = read_source(
        spark, f"arrow://{path}", "SELECT id, name FROM src WHERE id = 2"
    )
    assert [tuple(r) for r in df.collect()] == [(2, "b")]


def test_arrow_source_keeps_nullable_bigint(spark, tmp_path):
    """An arrow file with a nullable int64 column reads back as bigint
    with its null intact, not as the double a pandas detour makes of it."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    path = str(tmp_path / "n.arrow")
    tbl = pa.table({"n": pa.array([1, None, 2**62], pa.int64())})
    with ipc.new_file(path, tbl.schema) as w:
        w.write_table(tbl)
    df = read_source(spark, f"arrow://{path}", "SELECT n FROM src")
    assert df.schema.simpleString() == "struct<n:bigint>"
    assert sorted((r.n for r in df.collect()), key=str) == [1, 2**62, None]


def test_export_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "regions.csv")
    df = export(
        spark,
        f"parquet://{sf_dir}/region.parquet",
        "SELECT r_regionkey, r_name FROM src ORDER BY r_regionkey NULLS FIRST",
        out,
    )
    assert df.count() == 5
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 5
    assert set(back.columns) == {"r_regionkey", "r_name"}


def test_jdbc_url_assembly(spark):
    # no DB server in this container: assert the JDBC path is taken and the
    # url reaches the driver layer (which then fails to find a driver class)
    with pytest.raises(Exception) as exc_info:
        read_source(spark, "postgresql://localhost:1/nope", "SELECT 1").collect()
    msg = str(exc_info.value)
    assert "driver" in msg.lower() or "connection" in msg.lower()


def test_cli_entry_parity(spark, sf_dir, tmp_path):
    """Reference CLI parity (src/main.rs:10-22): -u/-q/-o flags through
    python -m sql2all_spark.main() (reusing this process's session)."""
    from sql2all_spark.__main__ import main

    out = str(tmp_path / "cli_nation.ndjson")
    rc = main(
        [
            "-u",
            f"parquet://{sf_dir}/nation.parquet",
            "-q",
            "SELECT n_nationkey, n_name FROM src",
            "-o",
            out,
        ]
    )
    assert rc == 0
    assert spark.read.json(out).count() == 25
    # url defaults to '' like the reference (main.rs:13) and fails dispatch
    rc = main(["-q", "SELECT 1", "-o", str(tmp_path / "x.csv")])
    assert rc == 1


@pytest.fixture(scope="module")
def payment_sqlite(tmp_path_factory):
    """SQLite DB with the reference's Payment distribution (the README
    acceptance setup, ``README.md:36-42`` / ``src/db/mysql.rs:119-157``),
    built with the stdlib driver — no server needed."""
    import sqlite3

    import numpy as np

    rng = np.random.RandomState(7)
    path = str(tmp_path_factory.mktemp("sqlite") / "payments.db")
    with sqlite3.connect(path) as conn:
        conn.execute(
            "CREATE TABLE payment (customer_id INTEGER, amount INTEGER,"
            " account_name TEXT)"
        )
        rows = [
            (
                int(rng.randint(1, 1000)),
                int(rng.randint(10, 1000)),
                f"Account {rng.randint(1, 100)}" if rng.rand() < 0.5 else None,
            )
            for _ in range(500)
        ]
        conn.executemany("INSERT INTO payment VALUES (?, ?, ?)", rows)
    return path, rows


def test_sqlite_source_whole_query_pushdown(spark, payment_sqlite):
    """The SQL executes inside SQLite (reference core, sqlite.rs:79):
    an aggregate query returns the aggregate, not raw rows."""
    path, rows = payment_sqlite
    df = read_source(
        spark,
        f"sqlite://{path}",
        "SELECT customer_id, SUM(amount) AS total FROM payment"
        " GROUP BY customer_id",
    )
    got = {r.customer_id: r.total for r in df.collect()}
    want: dict[int, int] = {}
    for cid, amount, _ in rows:
        want[cid] = want.get(cid, 0) + amount
    assert got == want


def test_sqlite_cli_readme_acceptance(spark, payment_sqlite, tmp_path):
    """README.md:36-42 acceptance: `select * from payment` from a sqlite://
    url exported to parquet via the CLI, then read-back-verified (the
    reference's own smoke test, mysql.rs:159-176, never asserted values)."""
    from sql2all_spark.__main__ import main

    path, rows = payment_sqlite
    out = str(tmp_path / "payment_out.parquet")
    rc = main(
        ["-u", f"sqlite://{path}", "-q", "select * from payment", "-o", out]
    )
    assert rc == 0
    back = spark.read.parquet(out)
    assert [f.name for f in back.schema.fields] == [
        "customer_id",
        "amount",
        "account_name",
    ]
    assert sorted(map(tuple, back.fillna({"account_name": "-1"}).collect())) == sorted(
        (c, a, n if n is not None else "-1") for c, a, n in rows
    )


def test_sqlite_type_mapping(spark, tmp_path):
    """Value-level type inference parity with src/db/conversion.rs:54-68:
    INTEGER→long, REAL→double, TEXT→string, BLOB→binary; all-NULL → string
    (reference maps declared-NULL to Arrow Null; Spark can't write that)."""
    import sqlite3

    path = str(tmp_path / "types.db")
    with sqlite3.connect(path) as conn:
        conn.execute(
            "CREATE TABLE t (i INTEGER, r REAL, s TEXT, b BLOB, n TEXT)"
        )
        conn.execute(
            "INSERT INTO t VALUES (?, ?, ?, ?, ?)", (1, 1.5, "x", b"\x01\x02", None)
        )
    df = read_source(spark, f"sqlite://{path}", "SELECT * FROM t")
    dtypes = dict(df.dtypes)
    assert dtypes == {
        "i": "bigint",
        "r": "double",
        "s": "string",
        "b": "binary",
        "n": "string",
    }
    r = df.collect()[0]
    assert (r.i, r.r, r.s, bytes(r.b), r.n) == (1, 1.5, "x", b"\x01\x02", None)


def test_sqlite_empty_result(spark, payment_sqlite, tmp_path):
    """Zero-row result: schema-only output (documented divergence from the
    reference's placeholder-schema empty file, postgresql.rs:108-125)."""
    path, _ = payment_sqlite
    df = read_source(
        spark, f"sqlite://{path}", "SELECT * FROM payment WHERE amount < 0"
    )
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "customer_id",
        "amount",
        "account_name",
    ]


def test_export_option_split_read_vs_write(spark, tmp_path):
    """A writer option must not reconfigure the reader: sep=';' meant for
    the CSV *output* previously leaked into the CSV *source* parse (shared
    **options dict) and broke column splitting."""
    src = str(tmp_path / "in.csv")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, name string"
    ).coalesce(1).write.option("header", "true").csv(src)
    out = str(tmp_path / "out.csv")
    df = export(
        spark,
        f"csv://{src}",
        "SELECT id, name FROM src ORDER BY id NULLS FIRST",
        out,
        write_options={"sep": ";"},
    )
    assert df.count() == 2  # comma-parsed source: 2 columns survived
    lines = sorted(
        r.value for r in spark.read.text(out).collect() if not r.value.startswith("id")
    )
    assert lines == ["1;a", "2;b"]  # semicolon applied to the output only


def test_avro_source_roundtrip(spark, tmp_path):
    """avro:// source twin of the avro sink: write through Spark's Avro
    format, read back through read_source with SQL running on the result."""
    src = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (3, None, 0.5)],
        "id long, name string, score double",
    )
    path = str(tmp_path / "t.avro")
    write_output(src, path)
    df = read_source(
        spark,
        f"avro://{path}",
        "SELECT id, name FROM src WHERE score IS NOT NULL"
        " ORDER BY id NULLS FIRST",
    )
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (3, None)]


# --- conversion.rs type-mapping parity (src/db/conversion.rs:9-52) ---------
# Every row of the reference's two MapArrowType impls, enumerated so a table
# drift fails a named test.  Expected Spark DDL → expected reference Arrow
# type noted inline; TIME/TIMESTAMP divergences documented in type_maps.py.

PG_ROWS = [
    ("BOOL", "BOOLEAN"),        # Arrow Boolean        (conversion.rs:12)
    ("INT2", "SMALLINT"),       # Arrow Int16          (conversion.rs:13)
    ("INT4", "INT"),            # Arrow Int32          (conversion.rs:14)
    ("FLOAT4", "FLOAT"),        # Arrow Float32        (conversion.rs:15)
    ("FLOAT8", "DOUBLE"),       # Arrow Float64        (conversion.rs:16)
    ("BIT", "BINARY"),          # Arrow Binary         (conversion.rs:17)
    ("NUMERIC", "DOUBLE"),      # Arrow Float64        (conversion.rs:18)
    ("DATE", "DATE"),           # Arrow Date32         (conversion.rs:19)
    ("TIME", "TIMESTAMP"),      # Arrow Time32(s)      (conversion.rs:20)
    ("VARCHAR", "STRING"),      # Arrow Utf8           (conversion.rs:21)
    ("TIMESTAMP", "TIMESTAMP"), # Arrow Timestamp(ms)  (conversion.rs:22)
]

MYSQL_ROWS = [
    ("MYSQL_TYPE_INT24", "INT"),           # Arrow Int32          (:34)
    ("MYSQL_TYPE_LONG", "INT"),            # Arrow Int32          (:35)
    ("MYSQL_TYPE_FLOAT", "DOUBLE"),        # Arrow Float64        (:36-38)
    ("MYSQL_TYPE_NEWDECIMAL", "DOUBLE"),   # Arrow Float64        (:39)
    ("MYSQL_TYPE_TIMESTAMP", "TIMESTAMP"), # Arrow Timestamp(ms)  (:40-42)
    ("MYSQL_TYPE_VARCHAR", "STRING"),      # Arrow Utf8           (:43)
    ("MYSQL_TYPE_VAR_STRING", "STRING"),   # Arrow Utf8           (:44)
    ("MYSQL_TYPE_BLOB", "STRING"),         # Arrow Utf8           (:45)
]


@pytest.mark.parametrize("db_type,spark_type", PG_ROWS)
def test_pg_type_map_row(db_type, spark_type):
    from pyspark.sql.types import StructType

    from sql2all_spark.sources.type_maps import map_db_type

    assert map_db_type("postgresql", db_type) == spark_type
    assert map_db_type("postgres", db_type.lower()) == spark_type
    StructType.fromDDL(f"c {spark_type}")  # every mapping is valid Spark DDL


@pytest.mark.parametrize("db_type,spark_type", MYSQL_ROWS)
def test_mysql_type_map_row(db_type, spark_type):
    from pyspark.sql.types import StructType

    from sql2all_spark.sources.type_maps import map_db_type

    assert map_db_type("mysql", db_type) == spark_type
    StructType.fromDDL(f"c {spark_type}")


def test_type_map_tables_complete():
    """Table size pins: adding/removing a reference row must touch both the
    module table and the enumerated test rows."""
    from sql2all_spark.sources.type_maps import MYSQL_TYPE_MAP, PG_TYPE_MAP

    assert len(PG_TYPE_MAP) == len(PG_ROWS) == 11
    assert len(MYSQL_TYPE_MAP) == len(MYSQL_ROWS) == 8


def test_type_map_unknown_raises():
    """Unsupported types fail loudly — the reference's unimplemented! arm
    (conversion.rs:24,48)."""
    from sql2all_spark.sources.type_maps import custom_schema, map_db_type

    with pytest.raises(ValueError, match="not supported for column"):
        map_db_type("postgresql", "JSONB")
    with pytest.raises(ValueError, match="not supported for column"):
        map_db_type("mysql", "MYSQL_TYPE_GEOMETRY")
    with pytest.raises(ValueError, match="no type-mapping table"):
        custom_schema("sqlite", {"a": "INTEGER"})


def test_custom_schema_assembly():
    from sql2all_spark.sources.type_maps import custom_schema

    got = custom_schema(
        "postgresql", {"id": "INT4", "name": "VARCHAR", "score": "FLOAT8"}
    )
    assert got == "id INT, name STRING, score DOUBLE"
    got = custom_schema("mysql", {"n": "MYSQL_TYPE_NEWDECIMAL"})
    assert got == "n DOUBLE"
