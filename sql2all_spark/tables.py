"""Testdata catalog: the ten parquet tables under /root/testdata/sf*/.

The reference has no catalog at all — schema is inferred per query from driver
column metadata (``src/db/sqlite.rs:58-65`` etc.).  Spark's parquet footer
inference is the direct analogue; this module just centralizes paths and view
registration so every operator builder and the SQL surface share one loader.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Operator-written files (bucketed tables, stored ANN/IVFPQ indexes) live
# in a PRIVATE per-process tempdir (mkdtemp: mode 0700, unpredictable
# suffix), not a fixed world-writable /tmp path — a fixed path lets
# concurrent sessions on the same sf_dir clobber each other's files
# mid-query and trusts a pre-existing attacker-created directory.
_SCRATCH_ROOT: str | None = None
_SCRATCH_LOCK = threading.Lock()


def scratch_root() -> str:
    """This process's scratch directory, created on first use and
    removed at interpreter exit."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:  # writers on several driver threads share one root
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sql2all_spark_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        return _SCRATCH_ROOT


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a TIMESTAMP (LTZ) UTC instant.

    The testdata has shipped two encodings of ``events.ts``:

    - INT64 TIMESTAMP(NANOS): read as raw ``bigint`` nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` → truncate to micros with
      integer division, the same truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as TIMESTAMP_NTZ,
      which ``unix_micros()``/watermarks reject.  Pin the wall-clock as a
      UTC instant via pure FIELD ARITHMETIC: days-since-epoch of the NTZ
      date plus the time-of-day, all exact integers — no timezone
      conversion anywhere, so the result cannot depend on the session tz.
      Two rejected alternatives, both session-dependent at DST edges:
      ``to_utc_timestamp(ntz,'UTC')`` casts NTZ→LTZ through the session
      tz first (drifts everywhere); and the round-trip
      ``cast(convert_timezone('UTC', current_timezone(), ts) as
      timestamp)`` is exact EXCEPT when the shifted wall clock lands in a
      DST fall-back overlap, where the cast resolves the ambiguous local
      time to one fixed offset and the instant shifts by an hour
      (verified: 2024-11-03 06:30Z under an America/New_York session).

    Shared by :func:`load_table` and ``streaming.jobs.events_stream`` so
    the batch and streaming read paths can never diverge.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros("
                "(cast(unix_date(cast(ts as date)) as bigint) * 86400"
                " + hour(ts) * 3600 + minute(ts) * 60) * 1000000"
                " + cast(extract(SECOND from ts) * 1000000 as bigint))"
            ),
        )
    return df


# Inferred parquet schemas, cached per (path, nanos-conf) — every
# ``spark.read.parquet`` without an explicit schema runs a footer-reading
# job, so a suite that builds 144 plans pays hundreds of tiny jobs for
# schemas that never change.  With the cache, repeat loads pass
# ``.schema(...)`` and plan construction is job-free after first touch.
# Keyed on the resolved path (testdata is immutable per sf_dir); the
# nanos conf is in the key because it changes how TIMESTAMP(NANOS)
# columns type.
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        # events.ts may arrive as INT64 TIMESTAMP(NANOS) (the fixtures
        # store MICROS; normalize_events_ts handles both), which the
        # parquet reader rejects outright; the conf is runtime-settable,
        # so set it here so every builder works even on a session we
        # didn't configure (the driver hands us its own session in the
        # queries() contract)
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = table_path(sf_dir, name)
    # Key the cache on the RESOLVED nanosAsLong conf (not just the table
    # kind): a schema inferred before the conf was set — or after a failed
    # set — differs from one inferred after, and a module-global cache
    # outlives SparkSessions, so conf drift between loads must miss
    # (ADVICE r9).  The conf read also verifies the set above took effect.
    try:
        nanos_conf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        nanos_conf = "<unset>"
    key = (os.path.abspath(path), name == "events", nanos_conf)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works alongside
    the DataFrame builders (both paths must exist: reference users write SQL)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
