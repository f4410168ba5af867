"""Source dispatch by URL scheme (reference ``impl FromStr for Database``,
``src/lib.rs:47-65``).

The reference supports ``mysql:`` / ``postgresql:`` / ``sqlite:///`` and
executes the SQL *on the source* (whole-query pushdown).  The Spark analogue
keeps the pushdown: JDBC sources get the query via ``option("query", sql)``
so the remote engine still does the work and Spark parallelizes the fetch;
file sources register the data as a temp view and run the SQL in Spark
itself (native execution — the part the reference never had).

Avro goes through Spark's own format (``sinks.AVRO_FORMAT``), so an Avro
path may be one container file or a Spark output directory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sql2all_spark.sinks import AVRO_FORMAT

SourceReader = Callable[..., DataFrame]

_JDBC_SCHEMES = {
    # url scheme → jdbc subprotocol (driver class resolved by Spark)
    "mysql": "mysql",
    "postgresql": "postgresql",
    "postgres": "postgresql",
    "sqlite": "sqlite",
}
_FILE_SCHEMES = {
    "parquet": "parquet",
    "csv": "csv",
    "json": "json",
    "orc": "orc",
    "arrow": "arrow",
    "avro": AVRO_FORMAT,  # Spark's Avro source; see ``sinks``
    "file": None,  # format from extension
}


def split_scheme(url: str) -> tuple[str, str]:
    if ":" not in url:
        raise ValueError(
            f"unsupported database url {url!r}"  # reference: lib.rs:63 error arm
        )
    scheme, rest = url.split(":", 1)
    return scheme.lower(), rest.lstrip("/")


def _format_from_path(path: str) -> str:
    # extension dispatch mirrors OutputFormat::from_str (src/lib.rs:79-90)
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    if ext in ("parquet", "csv", "json", "orc"):
        return ext
    raise ValueError(f"cannot infer source format from path {path!r}")


def _jvm_has_class(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
        return True
    except Exception:
        return False


def read_sqlite_local(
    spark: SparkSession, url: str, query: str, **options: str
) -> DataFrame:
    """SQLite scan via the stdlib driver — the reference's core path
    (``src/db/sqlite.rs:67-101``: open file DB, prepare query, stream rows)
    without needing a JDBC jar on the Spark classpath.

    The SQL executes INSIDE SQLite exactly as in the reference (whole-query
    pushdown, ``sqlite.rs:79`` ``conn.prepare(query)``); only result rows
    cross into Spark, via one Arrow table built on the driver.  That is the
    honest scale contract for this source: a SQLite file is a single-machine
    artifact (seed/dimension data), so a driver-side read is not the
    bottleneck — the 100 TB path is the partitioned JDBC read
    (``read_jdbc``) against a server database, used automatically when a
    ``org.sqlite.JDBC`` driver jar is deployed.

    Types follow the reference's inference-from-values semantics
    (``src/db/conversion.rs:54-68``: INTEGER→Int64, TEXT→Utf8, REAL→Float64,
    BLOB→Binary), with every column nullable; columns that are entirely NULL
    in the result become Utf8 (the reference maps declared-NULL to Arrow
    Null, which Spark has no writable equivalent for).
    """
    import sqlite3

    import pyarrow as pa

    _, rest = split_scheme(url)
    path = "/" + rest if not rest.startswith("/") else rest
    with sqlite3.connect(f"file:{path}?mode=ro", uri=True) as conn:
        cur = conn.execute(query)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    arrays = []
    for vals in cols:
        arr = pa.array(vals)
        if pa.types.is_null(arr.type):
            arr = arr.cast(pa.string())
        arrays.append(arr)
    tbl = pa.Table.from_arrays(arrays, names=names)
    return spark.createDataFrame(tbl)


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    db_column_types: dict[str, str] | None = None,
    **options: str,
) -> DataFrame:
    """Whole-query JDBC pushdown — the reference's core design
    (``src/db/mysql.rs:91`` ``conn.query_iter(query)``) with Spark's
    partitioned fetch replacing the single cursor.

    Pass ``partitionColumn``/``lowerBound``/``upperBound``/``numPartitions``
    to parallelize the read (reference reads on exactly one connection,
    ``src/db/mysql.rs:85-86``).

    ``db_column_types={'id': 'INT4', ...}`` pins result column types via the
    reference's exact per-type mapping tables (``src/db/conversion.rs:9-52``,
    see :mod:`sql2all_spark.sources.type_maps`) instead of relying on the
    JDBC dialect's inference — compiled into Spark's ``customSchema``."""
    scheme, _ = split_scheme(url)
    if db_column_types:
        from sql2all_spark.sources.type_maps import custom_schema

        options = {
            **options,
            "customSchema": custom_schema(scheme, db_column_types),
        }
    jdbc_url = url if url.startswith("jdbc:") else f"jdbc:{url}"
    reader = (
        spark.read.format("jdbc")
        .option("url", jdbc_url)
        .option("query", query)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_file_sql(
    spark: SparkSession, url: str, query: str, table: str = "src", **options: str
) -> DataFrame:
    """File source + native Spark SQL: reads the file, registers it as view
    ``table`` (default ``src``), runs ``query`` in Spark."""
    scheme, path = split_scheme(url)
    fmt = _FILE_SCHEMES.get(scheme) or _format_from_path(path)
    if not path.startswith("/"):
        path = "/" + path
    if fmt == "arrow":
        # Arrow IPC has no distributed Spark reader; load on the driver via
        # pyarrow and parallelize (sink parity with sinks' .arrow writer —
        # for anything large, the interchange format is parquet).  Handles
        # both sink layouts: a single IPC file (single_file=True) and the
        # distributed per-partition directory of part-*.arrow files.
        import glob
        import os

        import pyarrow as pa
        import pyarrow.ipc as ipc

        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "part-*.arrow")))
            if not parts:
                raise ValueError(f"no part-*.arrow files under {path!r}")
            tbl = pa.concat_tables(
                [ipc.open_file(p).read_all() for p in parts]
            )
        else:
            with ipc.open_file(path) as r:
                tbl = r.read_all()
        df = spark.createDataFrame(tbl)
        df.createOrReplaceTempView(table)
        return spark.sql(query)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.format(fmt).load(path)
    df.createOrReplaceTempView(table)
    return spark.sql(query)


def read_source(
    spark: SparkSession, url: str, query: str, **options: str
) -> DataFrame:
    """Scheme dispatch (reference ``src/lib.rs:47-65``)."""
    scheme, _ = split_scheme(url)
    if scheme == "sqlite" and not _jvm_has_class(spark, "org.sqlite.JDBC"):
        # no sqlite JDBC driver on the classpath → stdlib fallback (still
        # whole-query pushdown into SQLite; see read_sqlite_local docstring)
        return read_sqlite_local(spark, url, query, **options)
    if scheme in _JDBC_SCHEMES:
        return read_jdbc(spark, url, query, **options)
    if scheme in _FILE_SCHEMES:
        return read_file_sql(spark, url, query, **options)
    raise ValueError(f"unsupported database url scheme {scheme!r}")
