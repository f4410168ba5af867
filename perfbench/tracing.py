"""Tracing for the benchmark: spans around calls into each layer, plus the
Spark status-store record of each op's job group.

Wrappers are installed from here, around the public functions of
``sql2all_spark`` modules; nothing inside the package changes.  Operator
modules bind ``load_table`` and the ``cache``/``looputil``/``spread``
helpers when they are imported, so :meth:`Tracer.install` must run before
``registry.all_specs()`` imports them; it also rebinds any copy already
imported under another module's name.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import sys
import threading
import time
from dataclasses import dataclass

from metrics import clip, driver_gap, union_length

# (module, function, layer) — every wrapped entry point
WRAPPED = [
    ("sql2all_spark.session", "get_spark", "session.get_spark"),
    ("sql2all_spark.registry", "all_specs", "registry.all_specs"),
    ("sql2all_spark.tables", "load_table", "tables.load_table"),
    ("sql2all_spark.cache", "persist_tracked", "cache.persist"),
    ("sql2all_spark.cache", "materialize_tracked", "cache.materialize"),
    ("sql2all_spark.cache", "checkpoint_tracked", "cache.checkpoint"),
    ("sql2all_spark.spread", "spread_fanout", "spread.spread_fanout"),
    ("sql2all_spark.sources", "read_source", "sources.read_source"),
    ("sql2all_spark.sinks", "write_output", "sinks.write_output"),
    ("sql2all_spark.export", "export", "export.export"),
]
LOOP = ("sql2all_spark.looputil", "loop_shuffle_partitions", "looputil.loop")
# layers after whose calls cached storage is sampled (``Tracer.sample``)
SAMPLED = ("cache.persist", "cache.materialize", "cache.checkpoint")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans in memory while ``enabled``; wrappers stay installed
    and cost one attribute check when it is off."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: str | None = None  # op id that new spans belong to
        self.outputs: list[str] = []  # paths handed to sinks.write_output
        self.sample = None  # () -> MiB of cached storage, or None
        self.samples: list[float] = []  # taken after each SAMPLED call
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.op))

    def _wrap_fn(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if self.enabled:
                if layer == "sinks.write_output":
                    self.outputs.append(out)
                elif layer in SAMPLED and self.sample is not None:
                    self.samples.append(self.sample())
            return out

        return wrapped

    def _wrap_cm(self, fn, layer: str):
        @functools.wraps(fn)
        @contextlib.contextmanager
        def wrapped(*args, **kwargs):
            with self.span(layer), fn(*args, **kwargs) as value:
                yield value

        return wrapped

    def install(self) -> None:
        """Replace each wrapped function in its module, and every other
        already-imported ``sql2all_spark`` module attribute bound to it."""
        import importlib

        swaps = {}
        for mod_name, attr, layer in WRAPPED + [LOOP]:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            make = self._wrap_cm if (mod_name, attr, layer) == LOOP else self._wrap_fn
            swaps[id(fn)] = (fn, make(fn, layer))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("sql2all_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                hit = swaps.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, attr, hit[1])


# --- Spark status store -------------------------------------------------


def _seq(jseq):
    """A Scala Seq as a Python list (py4j cannot iterate it)."""
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt_ms(jopt):
    return jopt.get().getTime() / 1000.0 if jopt.isDefined() else None


class JobIds:
    """The Spark jobs each op ran: those of its job group, plus jobs with no
    group that appeared while it ran (jobs submitted from threads the op
    starts do not inherit the group)."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def take(self, group: str) -> list[int]:
        loose = set(self.tracker.getJobIdsForGroup(None)) - self.seen
        self.seen |= loose
        return sorted(set(self.tracker.getJobIdsForGroup(group)) | loose)


def job_record(spark, job_ids, start: float, end: float) -> dict:
    """Per-op Spark record from the in-process status store: jobs, stages,
    tasks, job-interval union, driver gap and stage totals.  ``start`` and
    ``end`` are the op's wall bounds in epoch seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    intervals, stage_ids = [], set()
    for jid in job_ids:
        job = store.job(jid)
        a, b = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if a is not None:
            intervals.append((a, b if b is not None else end))
        stage_ids.update(int(s) for s in _seq(job.stageIds()))
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "sr", "sw", "fetch_ms", "spill", "in", "out",
         "tasks"), 0
    )
    stages = 0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages never ran: no attempt recorded
            continue
        stages += 1
        tot["run_ms"] += st.executorRunTime()
        tot["cpu_ns"] += st.executorCpuTime()
        tot["gc_ms"] += st.jvmGcTime()
        tot["sr"] += st.shuffleReadBytes()
        tot["sw"] += st.shuffleWriteBytes()
        tot["fetch_ms"] += st.shuffleFetchWaitTime()
        tot["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        tot["in"] += st.inputBytes()
        tot["out"] += st.outputBytes()
        tot["tasks"] += st.numTasks()
    job_s = union_length(clip(intervals, start, end))
    mb = 1 << 20
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": stages,
        "spark.tasks": tot["tasks"],
        "spark.job_s": job_s,
        "spark.driver_gap_s": driver_gap(start, end, intervals),
        "spark.executor_run_s": tot["run_ms"] / 1000.0,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
        "spark.shuffle_read_mb": tot["sr"] / mb,
        "spark.shuffle_write_mb": tot["sw"] / mb,
        "spark.shuffle_fetch_wait_s": tot["fetch_ms"] / 1000.0,
        "spark.spill_mb": tot["spill"] / mb,
        "spark.input_mb": tot["in"] / mb,
        "spark.output_mb": tot["out"] / mb,
    }


def storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs that hold persisted or checkpointed blocks now."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, a file or a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
