from __future__ import annotations


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_every_query_has_registry_entry(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 6


def test_events_ts_session_timezone_independent(spark, sf_dir):
    """ADVICE r5: to_utc_timestamp on an NTZ column silently shifted the
    instant with the session timezone.  The field-arithmetic normalization
    in tables.normalize_events_ts must yield identical unix_micros under
    any session timezone (load_table targets driver-provided sessions it
    didn't configure)."""
    import pyspark.sql.functions as F

    from sql2all_spark.tables import load_table

    orig = spark.conf.get("spark.sql.session.timeZone")
    seen = set()
    try:
        for tz in ["UTC", "America/New_York", "Asia/Tokyo"]:
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = load_table(spark, sf_dir, "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            row = df.select(
                F.sum(F.expr("unix_micros(ts)")).alias("s"),
                F.min(F.expr("unix_micros(ts)")).alias("mn"),
            ).collect()[0]
            seen.add((row.s, row.mn))
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert len(seen) == 1, f"ts instants drift with session tz: {seen}"


def test_ntz_normalization_exact_at_dst_edges(spark):
    """ADVICE r6: the previous convert_timezone round-trip was exact except
    for instants whose session-local wall clock lands in a DST fall-back
    overlap (the NTZ->LTZ cast resolves the ambiguous local time to one
    fixed offset -> off by an hour).  The field-arithmetic normalization
    must reproduce the exact UTC instant for overlap/gap/fractional-second
    wall clocks under DST and non-DST sessions, including a half-hour-DST
    zone (Australia/Lord_Howe)."""
    from pyspark.sql import functions as F

    from sql2all_spark.tables import normalize_events_ts

    walls = [
        "2024-11-03 01:30:00",  # US fall-back overlap wall time
        "2024-11-03 05:30:00",  # instant whose NY wall = 01:30 EDT
        "2024-11-03 06:30:00",  # instant whose NY wall = 01:30 EST (the r6 bug)
        "2024-03-10 02:30:00",  # US spring-forward gap wall time
        "2024-06-15 12:00:00.123456",
        "2024-06-15 12:00:00.5",
    ]
    import duckdb

    expected = [
        int(duckdb.sql(f"SELECT epoch_us(TIMESTAMP '{w}')").fetchone()[0])
        for w in walls
    ]
    sql = " UNION ALL ".join(
        f"SELECT cast('{w}' as timestamp_ntz) AS ts" for w in walls
    )
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ["UTC", "America/New_York", "Australia/Lord_Howe"]:
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = normalize_events_ts(spark.sql(sql))
            got = [
                r[0]
                for r in df.select(F.expr("unix_micros(ts)")).collect()
            ]
            assert got == expected, f"{tz}: {got} != {expected}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_default_local_dir_gating(monkeypatch, tmp_path):
    """The /dev/shm shuffle-scratch default is gated (VERDICT r16 #4 /
    ADVICE r16): non-local masters never elect it, a tight shm falls back
    to Spark's default, an explicit empty override disables it, and a
    non-empty override wins outright."""
    from sql2all_spark import session as s

    # explicit override wins regardless of master
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", str(tmp_path))
    assert s._default_local_dir("local[4]") == str(tmp_path)
    assert s._default_local_dir("yarn") == str(tmp_path)
    # empty override explicitly disables the tmpfs default
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "")
    assert s._default_local_dir("local[4]") is None
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")
    # cluster masters never elect tmpfs implicitly
    assert s._default_local_dir("yarn") is None
    assert s._default_local_dir("spark://host:7077") is None
    # tight shm (free below the gate) falls back to Spark's default
    monkeypatch.setattr(s, "_SHM_MIN_FREE_BYTES", 1 << 62)
    assert s._default_local_dir("local[4]") is None
    # roomy shm on a local master elects the tmpfs dir
    monkeypatch.setattr(s, "_SHM_MIN_FREE_BYTES", 0)
    d = s._default_local_dir("local[4]")
    import os as _os

    if _os.path.isdir("/dev/shm") and _os.access("/dev/shm", _os.W_OK):
        assert d == "/dev/shm/sql2all-spark-local"
    else:  # pragma: no cover - non-Linux host
        assert d is None
