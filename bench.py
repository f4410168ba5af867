#!/usr/bin/env python
"""Benchmark harness and per-query profiler: time registered queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture directory, ``SF_DIR``) on
local[$SPARK_GRAFT_CPUS].

Usage: python bench.py [NAME ...] [--reps N]

With no NAME every registered query runs (197 timers: the stored-index
queries ``sim_lsh_ann_indexed`` and ``sim_ann_index_refresh`` each time
their one-off build apart from the query).  ``--reps N`` (default 1)
repeats each timer N times; before/after claims compare min-of-N.

Prints ONE JSON line last:
  {"metric": "total_query_sec", "value": N, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

The printed line carries only the HEADLINE query subset so it stays well
under the driver's output-tail buffer (BENCH_r01 recorded "parsed": null
because the full 85-query line was longer than the captured tail); the
complete map is written to bench_full.json alongside the repo, where
``queries[timer]`` is the min wall over reps and ``runs[timer]`` holds one
record per rep: ``wall_s``, the ``spark.*`` job record of the rep's own
job group read from the in-process status store (jobs, stages, tasks, job
time, driver gap, executor time, shuffle, spill, I/O; no Spark UI), and
the ``storage_mb`` and ``persistent_rdds`` still held after the rep's
``clearCache``.  One progress line per timer goes to stderr: min/median
wall, jobs per rep and median driver gap.

Each query is forced to full materialization with the noop sink (executes
the whole plan, writes nothing, no driver-side collect bottleneck), which
is how a cluster job would be measured.  One warmup of the flagship query
absorbs JVM/codegen startup so per-query numbers reflect steady state.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from sql2all_spark import registry  # noqa: E402
from sql2all_spark.session import get_spark  # noqa: E402
from tracing import JobIds, job_record, persistent_rdd_ids, storage_mb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative per operator family — keeps the printed JSON line short
# (driver tail-buffer safe) while still covering every performance regime.
HEADLINE = [
    "q1_pricing_summary",
    "join_multiway_revenue",
    "join_asof_attribution",
    "join_range_interval",
    "window_topk_per_group",
    "setop_intersect_except_all",
    "subquery_correlated_cte",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "sim_lsh_ann",
    "sim_lsh_ann_index_build",
    "sim_lsh_ann_indexed_query",
    "sim_ann_index_refresh",
    "dedup_incremental_screen",
    "sim_neardup_pairs",
    "sim_grouped_ann",
    "text_boilerplate_chunks",
    "layout_bucketed_join",
    "text_bm25_retrieval",
    "text_quality_score",
    "text_contamination_check",
    "text_bigram_lm_score",
    "mm_decode_features",
    "ts_rollup_hierarchy",
    "stream_session_window",
    # round-9 additions
    "dedup_semantic",
    "dedup_containment",
    "mm_phash_neardup",
    "ts_sessionize",
    "text_bpe_encode",
    # round-10 additions
    "text_exact_substring_dedup",
    "text_bpe_train",
    "text_importance_resample",
    "mm_phash_clusters",
    "sim_pq_adc_topk",
    "sim_ann_multiprobe",
    # round-12 additions
    "sim_ivfpq_indexed_query",
    "dedup_fuzzy_editdist",
    "text_quality_classifier_train",
    "text_perplexity_buckets",
    # round-13 additions
    "text_quality_filter",
    "text_source_quality_caps",
    "text_quality_calibration",
    "embed_domain_label",
    "embed_domain_mix_weights",
    # round-15 additions (the two late ones — exclusive-run baselines
    # were the r16 verdict item)
    "text_sp_encode",
    "text_template_strip",
    # round-16 additions
    "embed_domain_tau_caps",
    "dedup_post_strip",
    "dedup_post_strip_keeper",
]


# 1-minute load above this at bench START means something else is using the
# box (pytest, check.py, another bench): totals inflate ~40% under
# concurrent load (NOTES.md), so such runs must not be compared across
# rounds.  The run still completes — the driver invokes bench unattended
# and an absent artifact is worse than a flagged one — but the output
# self-describes with contended=true.  Advisory: a 1-min average also
# decays slowly, so a run started seconds after heavy work can flag
# spuriously; contended=false is trustworthy, contended=true means rerun
# on an idle box before quoting the number.
CONTENTION_LOAD1 = 4.0


def _load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> dict[str, float]:
    """Host-speed constants from CODE-INDEPENDENT workloads (pure Spark
    built-ins over synthetic ranges — nothing from this repo's operators,
    so the workload is bit-identical across rounds whatever the tree
    looks like).  BENCH_rN.calib / BENCH_r{N-1}.calib measures HOST
    drift, letting cross-round absolute comparisons be normalized instead
    of resting on commit-message A/B claims (VERDICT r8).  Each timer is
    the min of two runs (absorbs one-off JIT/scheduling noise)."""
    from pyspark.sql import functions as F

    def cpu():
        spark.range(500_000_000).select(
            F.sum((F.col("id") * 2 + 1) % 7)
        ).write.format("noop").mode("overwrite").save()

    def shuffle():
        spark.range(20_000_000).groupBy(
            (F.col("id") % 100_000).alias("k")
        ).count().groupBy().agg(F.sum("count")).write.format("noop").mode(
            "overwrite"
        ).save()

    out: dict[str, float] = {}
    for name, fn in (("calib_cpu_sec", cpu), ("calib_shuffle_sec", shuffle)):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


_GROUPS = itertools.count()


def timed(spark, label: str, fn) -> dict:
    """Run ``fn`` once as one rep of timer ``label`` and return its record.

    The rep runs under a job group of its own (a group reused across reps
    reports the running total of its jobs), and its ``spark.*`` fields come
    from ``perfbench/tracing.py``'s status-store reader.  ``clearCache``
    then drops what the query persisted, so queries stay isolated and
    memory bounded; what it cannot drop (checkpointed blocks) is recorded."""
    sc = spark.sparkContext
    group = f"{label}#{next(_GROUPS)}"
    jobs = JobIds(spark)
    sc.setJobGroup(group, label)
    w0, t0 = time.time(), time.perf_counter()
    fn()
    t1, w1 = time.perf_counter(), time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {"wall_s": t1 - t0, **job_record(spark, jobs.take(group), w0, w1)}
    spark.catalog.clearCache()
    rec["storage_mb"] = storage_mb(spark)
    rec["persistent_rdds"] = len(persistent_rdd_ids(spark))
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in rec.items()}


def _ann_indexed(spark):
    # Report the one-time index write and the pruned-bucket query
    # separately: amortized over queries the build vanishes, and summing
    # them into one number misread as a 7s "query" in r3.
    from sql2all_spark.operators.similarity import build_ann_index, query_ann_index

    path = None

    def build():
        nonlocal path
        path = build_ann_index(spark, SF_DIR)

    return [
        ("sim_lsh_ann_index_build", build),
        ("sim_lsh_ann_indexed_query",
         lambda: _run(query_ann_index(spark, SF_DIR, path))),
    ]


def _ann_refresh(spark):
    # Same split rationale as the stored index: the base-corpus build is a
    # one-time amortized cost; the number that judges the operator is the
    # O(batch) refresh + pruned query.
    from pyspark.sql import functions as F

    from sql2all_spark.operators.similarity import (
        build_ann_index,
        query_ann_index,
        refresh_ann_index,
    )
    from sql2all_spark.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    path = None

    def build():
        nonlocal path
        path = build_ann_index(
            spark, SF_DIR, source=e.filter(F.col("vec_id") % 4 != 3),
            suffix="_refresh",
        )

    def refresh():
        refresh_ann_index(path, e.filter(F.col("vec_id") % 4 == 3))
        _run(query_ann_index(spark, SF_DIR, path))

    return [("sim_ann_refresh_base_build", build), ("sim_ann_index_refresh", refresh)]


# registered names timed as (build, query) pairs; a rep runs the pair in order
SPLIT = {"sim_lsh_ann_indexed": _ann_indexed, "sim_ann_index_refresh": _ann_refresh}


def _progress(label: str, runs: list[dict]) -> None:
    walls = [r["wall_s"] for r in runs]
    gap = statistics.median(r["spark.driver_gap_s"] for r in runs)
    print(
        f"{label}: min {min(walls):.2f}s med {statistics.median(walls):.2f}s"
        f" jobs {'/'.join(str(r['spark.jobs']) for r in runs)} gap {gap:.2f}s",
        file=sys.stderr, flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="Time registered queries.")
    ap.add_argument("names", nargs="*", metavar="NAME",
                    help="registered query names (default: all)")
    ap.add_argument("--reps", type=int, default=1, help="runs per timer")
    args = ap.parse_args()
    specs = registry.all_specs()
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        ap.error(f"unknown query name(s): {', '.join(unknown)}")
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    start_load1 = _load1()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: absorb JVM startup + first-parquet-footer costs.
    _run(specs["q1_pricing_summary"].builder(spark, SF_DIR))

    calib = _calibrate(spark)

    runs: dict[str, list[dict]] = {}
    for name in args.names or sorted(specs):
        if name in SPLIT:
            timers = SPLIT[name](spark)
        else:
            timers = [(name, lambda b=specs[name].builder: _run(b(spark, SF_DIR)))]
        for _ in range(args.reps):
            for label, fn in timers:
                runs.setdefault(label, []).append(timed(spark, label, fn))
        for label, _ in timers:
            _progress(label, runs[label])
    times = {k: round(min(r["wall_s"] for r in rs), 3) for k, rs in runs.items()}

    full = {
        "metric": "total_query_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "n_queries": len(times),
        "queries": times,
        "sf": _sf_from_dir(SF_DIR),
        "start_load1": round(start_load1, 2),
        "contended": start_load1 > CONTENTION_LOAD1,
        **calib,
    }
    with open(os.path.join(ROOT, "bench_full.json"), "w") as f:
        json.dump({**full, "runs": runs}, f, indent=1)
    compact = dict(full)
    compact["queries"] = {k: times[k] for k in HEADLINE if k in times}
    spark.stop()  # flush the JVM so no late log lines trail the JSON line
    sys.stdout.flush()
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
