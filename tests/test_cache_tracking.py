"""Tracked-persist lifecycle: builders persist through
``cache.persist_tracked`` and the registry releases the PREVIOUS query's
blocks at each builder invocation — the hygiene that keeps a multi-query
runner (the driver gate) from accumulating cached blocks until the
local-mode heap fills (the r7 sf1 OOM mode).  Also pins the driver-memory
clamp added for ADVICE r7 #4, the local-width default and the
``checkpoint_tracked`` storage choice."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from sql2all_spark import cache
from sql2all_spark.registry import all_specs


def _cached_rdd_count(spark) -> int:
    return len(
        [
            s
            for s in spark.sparkContext._jsc.sc().getPersistentRDDs().values()
        ]
    )


def test_release_tracked_unpersists_everything(spark, sf_dir):
    from pyspark.sql import functions as F

    from sql2all_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    df = cache.persist_tracked(d.filter(F.col("doc_id") >= 0))
    df.count()  # materialize the cache
    assert df.storageLevel.useMemory
    cache.release_tracked()
    assert not df.storageLevel.useMemory
    # releasing again is a no-op, and the tracker is empty
    cache.release_tracked()
    assert cache._tracked() == []


def test_registry_builder_releases_previous_querys_caches(spark, sf_dir):
    """Building query B after consuming query A must drop A's tracked
    blocks (tpch_q15 persists a revenue agg; any later builder releases
    it)."""
    specs = all_specs()
    a = specs["tpch_q15_top_supplier"].builder(spark, sf_dir)
    a.collect()  # consume A: its slim revenue agg is now cached
    assert len(cache._tracked()) >= 1
    tracked_before = list(cache._tracked())
    specs["q1_pricing_summary"].builder(spark, sf_dir)  # build only
    assert cache._tracked() == []  # A's entries were released at B's build
    for df in tracked_before:
        assert not df.storageLevel.useMemory


def test_unpersist_never_invalidates_a_plan(spark, sf_dir):
    """Correctness-safety of eager release: a consumer holding a plan
    whose persisted intermediate was released still computes the same
    result (it recomputes instead of reading cache)."""
    specs = all_specs()
    df = specs["tpch_q15_top_supplier"].builder(spark, sf_dir)
    expected = df.collect()
    cache.release_tracked()
    assert df.collect() == expected


def test_driver_mem_clamp():
    import os

    from sql2all_spark.session import _default_driver_mem

    env_before = os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    try:
        val = _default_driver_mem()
        assert val.endswith("g")
        gib = int(val[:-1])
        assert 1 <= gib <= 16
        # env override wins verbatim
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
        assert _default_driver_mem() == "3g"
    finally:
        os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
        if env_before is not None:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = env_before


def test_cpu_count_defaults_to_affinity_mask(monkeypatch):
    """Unset, the local width is the CPUs this process may run on (not a
    fixed constant); ``SPARK_GRAFT_CPUS`` still overrides it."""
    from sql2all_spark.session import cpu_count

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert cpu_count() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpu_count() == 3


class _FakeFrame:
    """Just the surface ``checkpoint_tracked`` touches: the session's
    ``getCheckpointDir`` (returns ``ckpt_dir``, or raises it when it is
    an exception) and the two checkpoint calls, recorded."""

    def __init__(self, ckpt_dir):
        def get_dir():
            if isinstance(ckpt_dir, Exception):
                raise ckpt_dir
            return ckpt_dir

        sc = SimpleNamespace(getCheckpointDir=get_dir)
        self.sparkSession = SimpleNamespace(sparkContext=sc)
        self.calls: list[tuple] = []

    def checkpoint(self):
        self.calls.append(("checkpoint",))
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(("localCheckpoint", eager))
        return self


@pytest.mark.parametrize("eager", [True, False])
@pytest.mark.parametrize(
    "ckpt_dir",
    [
        "file:///shared/ckpt",  # reliable dir configured
        None,  # no dir (local mode, tests)
        RuntimeError("getCheckpointDir unavailable"),
    ],
    ids=["dir_set", "no_dir", "dir_lookup_raises"],
)
def test_checkpoint_tracked_gate_matrix(ckpt_dir, eager):
    """A configured checkpoint dir gets a reliable ``checkpoint()`` (which
    ignores ``eager``); no dir, or a failing lookup, falls back to
    ``localCheckpoint`` with ``eager`` passed through."""
    df = _FakeFrame(ckpt_dir)
    assert cache.checkpoint_tracked(df, eager=eager) is df
    if isinstance(ckpt_dir, str):
        assert df.calls == [("checkpoint",)]
    else:
        assert df.calls == [("localCheckpoint", eager)]
