"""bench.py, the one per-query timer: each rep reads its own jobs from the
status store, and a bad query name fails before any JVM starts."""

from __future__ import annotations

import os
import subprocess
import sys


def test_timed_counts_each_rep_jobs_alone(spark):
    import bench

    def one_job():
        spark.range(100).write.format("noop").mode("overwrite").save()

    recs = [bench.timed(spark, "one_job", one_job) for _ in range(2)]
    # a job group shared across reps would report 1 and then 2
    assert [r["spark.jobs"] for r in recs] == [1, 1], recs
    for r in recs:
        assert r["wall_s"] > 0 and r["spark.stages"] >= 1
        assert r["storage_mb"] >= 0 and r["persistent_rdds"] >= 0


def test_unknown_query_name_exits_before_spark(repo_root):
    # a SPARK_HOME that cannot launch a JVM: reaching get_spark would fail
    # with a traceback instead of the usage error
    env = {**os.environ, "SPARK_HOME": str(repo_root / "no-such-spark-home")}
    out = subprocess.run(
        [sys.executable, str(repo_root / "bench.py"), "q1_pricing_summary",
         "no_such_query"],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr
    assert "q1_pricing_summary" not in out.stderr.split("error:")[-1]
    assert "Traceback" not in out.stderr


def test_tracer_wrapped_names_resolve():
    # perfbench's tracer looks its layer functions up by name; a renamed
    # or deleted one would only fail a traced benchmark run
    import importlib

    import bench  # noqa: F401  (puts perfbench/ on sys.path, as a run does)
    import tracing

    entries = tracing.WRAPPED + [tracing.LOOP]
    assert entries
    for mod_name, attr, _ in entries:
        assert callable(getattr(importlib.import_module(mod_name), attr)), attr
