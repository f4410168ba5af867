"""Sink round-trips: every output format writes and reads back the same
rows.  Generalizes the reference's only executing test — a parquet read-back
row count (``src/db/mysql.rs:159-176``) — to all formats with full value
assertions, plus the error paths for bad scheme/extension.
"""

from __future__ import annotations

import pytest

from sql2all_spark.sinks import format_from_extension, write_output
from sql2all_spark.sources import read_source


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, None, -0.25), (3, "c", None)],
        "id long, name string, score double",
    )


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("ext", ["parquet", "orc", "avro"])
def test_roundtrip_binary_formats(spark, sample, tmp_path, ext):
    out = str(tmp_path / f"out.{ext}")
    write_output(sample, out)
    got = read_source(spark, f"{ext}://{out}", "SELECT * FROM src")
    assert got.schema == sample.schema
    assert _rows(got) == _rows(sample)


def test_roundtrip_csv_header(spark, sample, tmp_path):
    out = str(tmp_path / "out.csv")
    write_output(sample, out)
    got = spark.read.option("header", "true").schema(sample.schema).csv(out)
    assert _rows(got) == _rows(sample)


def test_ndjson_explicit_nulls(spark, sample, tmp_path):
    """Reference writes ``"k":null`` explicitly (with_explicit_nulls(true),
    src/lib.rs:128); our JSON sink must keep null fields."""
    out = str(tmp_path / "out.ndjson")
    write_output(sample, out)
    lines = [r.value for r in spark.read.text(out).collect()]
    assert any('"name":null' in ln for ln in lines)
    got = spark.read.schema(sample.schema).json(out)
    assert _rows(got) == _rows(sample)


def test_arrow_ipc_roundtrip(spark, sample, tmp_path):
    """The reference declares Arrow output but panics on it (lib.rs:138);
    we implement it — distributed per-partition writer by default."""
    import glob
    import json

    import pyarrow as pa
    import pyarrow.ipc as ipc

    out = str(tmp_path / "out.arrow")
    write_output(sample, out)
    parts = sorted(glob.glob(out + "/part-*.arrow"))
    assert parts, "distributed writer must produce part files"
    tbl = pa.concat_tables([ipc.open_file(p).read_all() for p in parts])
    assert tbl.num_rows == 3
    assert sorted(tbl.column_names) == ["id", "name", "score"]
    manifest = json.load(open(out + "/_manifest.json"))
    assert manifest["total_rows"] == 3
    assert [c["name"] for c in manifest["schema"]] == ["id", "name", "score"]


def test_arrow_ipc_distributed_multifile(spark, tmp_path):
    """Multi-partition frames write one IPC file per partition from the
    executors (no driver materialization); empty frames still produce a
    schema-carrying partition-0 file."""
    import glob

    import pyarrow.ipc as ipc

    out = str(tmp_path / "multi.arrow")
    df = spark.range(0, 1000).repartition(4)
    write_output(df, out)
    parts = sorted(glob.glob(out + "/part-*.arrow"))
    assert len(parts) == 4
    total = sum(ipc.open_file(p).read_all().num_rows for p in parts)
    assert total == 1000

    empty_out = str(tmp_path / "empty.arrow")
    write_output(df.filter("id < 0"), empty_out)
    eparts = glob.glob(empty_out + "/part-*.arrow")
    assert len(eparts) == 1  # schema-only partition-0 file
    etbl = ipc.open_file(eparts[0]).read_all()
    assert etbl.num_rows == 0 and etbl.column_names == ["id"]


def test_arrow_ipc_single_file(spark, sample, tmp_path):
    """single_file=True keeps the reference-style one-file layout."""
    import pyarrow.ipc as ipc

    out = str(tmp_path / "single.arrow")
    write_output(sample, out, single_file=True)
    with ipc.open_file(out) as reader:
        tbl = reader.read_all()
    assert tbl.num_rows == 3
    assert tbl.column_names == ["id", "name", "score"]


def test_arrow_single_file_overwrites_directory(spark, sample, tmp_path):
    """Overwriting a path a distributed arrow write left as a directory
    with a single-file write replaces the directory with one IPC file."""
    import pyarrow.ipc as ipc

    out = str(tmp_path / "x.arrow")
    write_output(spark.range(0, 10).repartition(2), out)
    assert (tmp_path / "x.arrow").is_dir()
    write_output(sample, out, single_file=True)
    with ipc.open_file(out) as reader:
        assert reader.read_all().num_rows == 3


def test_arrow_directory_overwrites_single_file(spark, sample, tmp_path):
    """The reverse: a distributed write over a single IPC file replaces
    the file with a part-file directory holding only the new rows."""
    import glob

    import pyarrow.ipc as ipc

    out = str(tmp_path / "x.arrow")
    write_output(sample, out, single_file=True)
    assert (tmp_path / "x.arrow").is_file()
    write_output(spark.range(0, 10).repartition(2), out)
    parts = glob.glob(out + "/part-*.arrow")
    assert sum(ipc.open_file(p).read_all().num_rows for p in parts) == 10


def test_arrow_ipc_filtered_not_null_column(spark, sf_dir, tmp_path):
    """A filtered column arrives at the executor as ``not null`` while the
    driver schema says nullable; the writer must conform every batch to
    the driver schema instead of failing on the mismatch."""
    from sql2all_spark.export import export
    from sql2all_spark.sources import read_source

    query = (
        "SELECT l_orderkey, l_extendedprice, l_shipdate FROM src"
        " WHERE l_shipdate >= DATE '1998-01-01'"
    )
    src = f"parquet://{sf_dir}/lineitem.parquet"
    out = str(tmp_path / "o.arrow")
    want = export(spark, src, query, out)
    back = read_source(spark, f"arrow://{out}", "SELECT * FROM src")
    assert back.columns == ["l_orderkey", "l_extendedprice", "l_shipdate"]
    assert back.count() > 0
    assert _rows(back) == _rows(want)


def test_bad_extension_raises():
    with pytest.raises(ValueError, match="unsupported output format"):
        format_from_extension("/tmp/out.xyz")


def test_no_extension_raises():
    with pytest.raises(ValueError, match="no extension"):
        format_from_extension("/tmp/outfile")


def test_partitioned_write_prunes(spark, tmp_path):
    import os

    df = spark.createDataFrame(
        [(1, "en", "x"), (2, "en", "y"), (3, "fr", "z")],
        "id long, lang string, text string",
    )
    out = str(tmp_path / "part.parquet")
    write_output(df, out, partition_by=["lang"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("lang=")
    ) == ["lang=en", "lang=fr"]
    got = spark.read.parquet(out)
    assert got.count() == 3
    # partition filter must prune to one directory, visible in the scan
    plan = (
        got.filter(got.lang == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_clustered_write_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    out = str(tmp_path / "clustered.parquet")
    write_output(li, out, cluster_by=["l_shipdate"], cluster_partitions=4)
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .collect()
    )
    ranges = sorted((r.lo, r.hi) for r in per_file)
    assert len(ranges) > 1, "expected multiple range-partitioned files"
    for (_, prev_hi), (next_lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= next_lo, "file key ranges must be disjoint"


def test_lance_gated_without_package(spark, sample, tmp_path):
    try:
        import lance  # noqa: F401

        have_lance = True
    except ImportError:
        have_lance = False
    out = str(tmp_path / "out.lance")
    if have_lance:
        write_output(sample, out)
        import lance as l2

        assert l2.dataset(out).count_rows() == 3
    else:
        with pytest.raises(ValueError, match="pylance"):
            write_output(sample, out)


def test_schema_evolution_merge(spark, tmp_path):
    """Appends with a widened schema must stay readable: mergeSchema
    reconciles v1 (2 cols) and v2 (3 cols) footers into the superset."""
    out = str(tmp_path / "evolving.parquet")
    v1 = spark.createDataFrame([(1, "a")], "id long, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    got = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}


def test_hll_rollup_within_error(spark, sf_dir):
    from sql2all_spark.registry import all_specs
    from sql2all_spark.tables import load_table

    row = all_specs()["agg_hll_sketch_rollup"].builder(spark, sf_dir).collect()[0]
    exact = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert row.exact_monthly == exact
    assert row.est_within_bound == 1  # merged sketch inside the 3σ envelope
    assert row.sum_of_daily_exact >= exact  # daily overlap double-counts


def test_avro_roundtrip_rich_types(spark, tmp_path):
    """Avro is roadmap in the reference (README.md:26-31); `.avro` goes
    through Spark's own Avro format.  Round-trips every type incl. nulls,
    date, both timestamps, decimal, binary and arrays, schema included."""
    import datetime
    from decimal import Decimal

    df = spark.createDataFrame(
        [
            (
                1,
                7,
                "hello",
                1.5,
                2.25,
                True,
                b"\x00\xff",
                datetime.date(2024, 2, 29),
                datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
                datetime.datetime(2024, 2, 29, 23, 59, 59, 1),
                Decimal("12345.67"),
                [1, 2, None],
            ),
            (2, *[None] * 11),
        ],
        "id long, n int, s string, d double, f float, b boolean,"
        " raw binary, dt date, ts timestamp, ts_ntz timestamp_ntz,"
        " dec decimal(10,2), arr array<int>",
    )
    out = str(tmp_path / "out.avro")
    write_output(df, out)
    got = read_source(spark, f"avro://{out}", "SELECT * FROM src")
    assert got.schema == df.schema
    assert sorted(got.collect()) == sorted(df.collect())


def test_avro_mode_honored(spark, sample, tmp_path):
    """Spark's save modes: append adds rows, error raises Spark's
    exception, ignore is a no-op and overwrite replaces."""
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "m.avro")

    def count():
        return read_source(spark, f"avro://{out}", "SELECT * FROM src").count()

    write_output(sample, out)
    write_output(sample, out, mode="append")
    assert count() == 6
    with pytest.raises(AnalysisException, match="already exists"):
        write_output(sample, out, mode="error")
    write_output(sample.limit(1), out, mode="ignore")
    assert count() == 6
    write_output(sample.limit(1), out, mode="overwrite")
    assert count() == 1


def test_avro_export_from_testdata(spark, sf_dir, tmp_path):
    from sql2all_spark.export import export

    out = str(tmp_path / "nations.avro")
    df = export(
        spark,
        f"parquet://{sf_dir}/nation.parquet",
        "SELECT n_nationkey, n_name FROM src",
        out,
    )
    got = read_source(spark, f"avro://{out}", "SELECT * FROM src")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_avro_write_never_collects_input_rows(spark, sf_dir, tmp_path):
    """The avro sink writes on the executors: the INPUT DataFrame is never
    collect()ed on the driver.  Pin it by sabotaging the instance's
    collect — a multi-partition write must still succeed and read back
    every row."""
    from sql2all_spark.tables import load_table

    df = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(4)
    )
    expected = sorted(map(tuple, df.collect()))

    def _no_collect(*a, **k):
        raise AssertionError("avro sink collected the input on the driver")

    df.collect = _no_collect
    out = str(tmp_path / "orders.avro")
    write_output(df, out)
    got = read_source(spark, f"avro://{out}", "SELECT * FROM src")
    assert sorted(map(tuple, got.collect())) == expected


def test_avro_empty_result_schema_only_file(spark, sf_dir, tmp_path):
    from sql2all_spark.tables import load_table

    df = load_table(spark, sf_dir, "nation").filter("n_nationkey < 0")
    out = str(tmp_path / "empty.avro")
    write_output(df, out)
    got = read_source(spark, f"avro://{out}", "SELECT * FROM src")
    assert got.count() == 0
    assert got.schema == df.schema


def test_avro_reads_file_from_earlier_container_writer(spark, repo_root):
    """Outputs written before `.avro` moved to Spark's format stay
    readable: ``tests/data/legacy_codec.avro`` is one container file
    (codec null, fixed sync marker) from the earlier driver-merged
    writer."""
    import datetime
    from decimal import Decimal

    path = repo_root / "tests" / "data" / "legacy_codec.avro"
    got = read_source(spark, f"avro://{path}", "SELECT * FROM src ORDER BY id")
    assert got.schema.simpleString() == (
        "struct<id:bigint,n:int,s:string,d:double,b:boolean,raw:binary,"
        "dt:date,ts:timestamp,dec:decimal(10,2),arr:array<int>>"
    )
    assert [tuple(r) for r in got.collect()] == [
        (
            1,
            7,
            "hello",
            1.5,
            True,
            bytearray(b"\x00\xff"),
            datetime.date(2024, 2, 29),
            datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
            Decimal("12345.67"),
            [1, 2, None],
        ),
        (2, *[None] * 9),
    ]


def test_avro_multipart_input_reads_partitioned(spark, tmp_path):
    """A multi-part avro output reads back as a distributed file scan with
    more than one partition, not as rows built on the driver."""
    import glob

    out = str(tmp_path / "multi.avro")
    write_output(spark.range(0, 1000).repartition(4), out)
    assert len(glob.glob(out + "/part-*.avro")) == 4
    got = read_source(spark, f"avro://{out}", "SELECT * FROM src")
    assert got.rdd.getNumPartitions() > 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FileScan avro" in plan and "LocalTableScan" not in plan
    assert got.count() == 1000
