#!/usr/bin/env python3
"""Benchmark runner for sql2all_spark.

    python3 perfbench/run.py --workload export_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One closed-loop client runs the
workload's ops one after another in a single Spark process at
``local[nproc]``: a cold pass, one untimed settle pass, then warm passes
until ``--seconds`` have been measured (at least one).  Every output is
checked outside the timed region.  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The lines above it name every metric with its unit; the
full per-op record, with spans, goes to ``perfbench/.work/results/``.

Everything the run writes stays under ``perfbench/.work/``: the generated
inputs (cached across runs), the oracle cache, and a per-run directory for
outputs, Spark scratch and temp files that is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
# bump when gen.py's output changes: names the cached dataset and keys
# the oracle cache
DATA_VERSION = 2
WORKLOADS = ("export_etl", "llm_curation")
# stop starting warm passes this long after process start, so the run ends
# well inside its 180 s limit even on a slow host
DEADLINE_S = 140.0

sys.path[:0] = [BENCH, ROOT]

import metrics  # noqa: E402  (the benchmark's own modules, stdlib only)
import tracing  # noqa: E402


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mount_fs(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    best, fs = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, kind = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fs = mnt, kind
    return fs


def steal_s() -> float:
    """CPU time the hypervisor gave to others so far, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def processes() -> list[tuple[int, int, int]]:
    """(pid, ppid, process group) of every live, non-zombie process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while we looked
        if fields[0] != "Z":
            out.append((int(name), int(fields[1]), int(fields[2])))
    return out


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for p, ppid, _ in processes():
        children.setdefault(ppid, []).append(p)
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def reap(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill any still
    running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        alive = pids & {p for p, _, _ in processes()}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def ensure_data() -> str:
    """Generated tables (seed-independent), built once per checkout."""
    data = os.path.join(WORK, f"data-v{DATA_VERSION}")
    if not os.path.exists(os.path.join(data, ".complete")):
        subprocess.run(
            [sys.executable, os.path.join(BENCH, "gen.py"), "--data", data],
            check=True, timeout=600,
        )
        open(os.path.join(data, ".complete"), "w").close()
    return data


def run_cli(payment: str, out: str) -> tuple[float, str | None]:
    """Wall time of one fresh CLI export, and an error or None."""
    t0 = time.perf_counter()
    # own process group, so the JVM it launches can be found and waited for
    with subprocess.Popen(
        [sys.executable, "-m", "sql2all_spark", "-u", f"sqlite://{payment}",
         "-q", "SELECT * FROM payment", "-o", out],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    ) as proc:
        try:
            _, err = proc.communicate(timeout=150)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            _, err = proc.communicate()
    wall = time.perf_counter() - t0
    reap({p for p, _, group in processes() if group == proc.pid})
    if proc.returncode != 0:
        return wall, f"exit {proc.returncode}: {err.strip()[-300:]}"
    return wall, None


def check_cli(payment: str, out: str) -> str | None:
    """The CLI's CSV holds the payment table: same rows, same aggregates."""
    import glob

    import pandas as pd

    import oracle

    parts = sorted(glob.glob(os.path.join(out, "part-*.csv")))
    if not parts:
        return "no csv part files"
    df = pd.concat([pd.read_csv(p) for p in parts])
    kinds = [("customer_id", "INTEGER"), ("amount", "INTEGER"),
             ("account_name", "VARCHAR")]
    want = oracle.sqlite_profile(payment, "SELECT * FROM payment", kinds)["values"]
    got = [float(len(df))]
    for name, kind in kinds:
        col = df[name]
        got.append(float(col.notna().sum()))
        got.append(float(col.sum()) if kind == "INTEGER" else float(col.dropna().str.len().sum()))
    return oracle.same_profile(got, want)


class Runner:
    """One benchmark process: set-up, passes, checks and reports."""

    def __init__(self, args, run_dir: str, data: str):
        self.args = args
        self.run_dir = run_dir
        self.slots = nproc()
        self.paths = {
            "sf01": os.path.join(data, "sf0.1"),
            "sf001": os.path.join(data, "sf0.01"),
            "orders_sqlite": os.path.join(data, "orders.sqlite"),
            "out": os.path.join(run_dir, "out"),
        }
        os.makedirs(self.paths["out"])
        self.tracer = None

    # --- set-up -------------------------------------------------------

    def setup(self) -> dict:
        """Import, all_specs, get_spark and one warm-up op, timed."""
        t0 = time.perf_counter()
        import importlib

        mods = {
            name: importlib.import_module(f"sql2all_spark.{name}")
            for name in ("cache", "export", "looputil", "plans", "registry",
                         "session", "sinks", "sources", "spread", "tables")
        }
        registry, session = mods["registry"], mods["session"]
        t_import = time.perf_counter()
        if self.args.trace:
            self.tracer = tracing.Tracer()
            self.tracer.install()
            self.tracer.enabled = True
        specs = registry.all_specs()
        t_specs = time.perf_counter()
        spark = session.get_spark(
            "perfbench",
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        t_spark = time.perf_counter()
        if self.tracer:
            self.tracer.sample = lambda: tracing.storage_mb(spark)
        specs["q1_pricing_summary"].builder(spark, self.paths["sf01"]).write.format(
            "noop"
        ).mode("overwrite").save()
        t_warm = time.perf_counter()
        if self.tracer:
            self.tracer.enabled = False
        self.spark, self.specs = spark, specs
        self.mods = mods
        # the fixed /tmp index roots would be shared with any other process
        from sql2all_spark.operators import ivfpq, similarity

        similarity.ANN_INDEX_ROOT = os.path.join(self.run_dir, "ann_index")
        ivfpq.IVFPQ_INDEX_ROOT = os.path.join(self.run_dir, "ivfpq_index")
        return {
            "setup_s": t_warm - t0,
            "import_s": t_import - t0,
            "all_specs_s": t_specs - t_import,
            "get_spark_s": t_spark - t_specs,
            "warmup_s": t_warm - t_spark,
        }

    # --- one op ---------------------------------------------------------

    def run_op(self, op, group: str, traced: bool, jobs) -> dict:
        """Run ``op`` once under job group ``group``; returns its record
        (the output is kept for the check, outside the timed region)."""
        import oracle

        spark, sc = self.spark, self.spark.sparkContext
        tr = self.tracer
        if tr:
            tr.enabled, tr.op = traced, group
            tr.outputs, tr.samples = [], []
        rdds_before = tracing.persistent_rdd_ids(spark) if traced else None
        sc.setJobGroup(group, op.name)
        rec = {"op": op.name, "kind": op.kind}
        df = out = None
        w0, t0 = time.time(), time.perf_counter()
        try:
            if op.kind == "query":
                if tr and traced:
                    with tr.span("operators.build"):
                        df = op.spec.builder(spark, op.sf_dir)
                    rec["build_s"] = time.perf_counter() - t0
                    rec["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                else:
                    df = op.spec.builder(spark, op.sf_dir)
                out = df.toPandas()
            elif op.kind == "export":
                df = self.mods["export"].export(spark, op.url, op.sql, op.out)
                out = op.out
            else:
                rb = self.mods["sources"].read_source(spark, op.url, "SELECT * FROM src")
                rb.createOrReplaceTempView("readback")
                row = spark.sql(
                    oracle.spark_profile_sql(op.want["kinds"], "readback")
                ).collect()[0]
                out = [None if v is None else float(v) for v in row]
        except Exception as e:  # a failing op is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        t1, w1 = time.perf_counter(), time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["wall_s"] = t1 - t0
        if tr:
            tr.enabled = False
        if traced:
            rec.update(tracing.job_record(spark, jobs.take(group), w0, w1))
            if df is not None and "error" not in rec:
                plans = self.mods["plans"]
                rec["plans.shuffle_count"] = plans.shuffle_count(df)
                rec["plans.physical_plan_kb"] = len(plans.physical_plan(df)) / 1024.0
            rec["outputs"] = list(dict.fromkeys(tr.outputs))
            # storage after each cache-layer call and at the op's end
            rec["storage_mb_peak"] = max(tr.samples + [tracing.storage_mb(spark)])
        elif jobs is not None:
            jobs.take(group)
        # the program's own release (the registry does the same before the
        # next build); what survives it is what the op retained, counted
        # before the benchmark clears the cache itself
        self.mods["cache"].release_tracked()
        if traced:
            rec["rdds_left"] = len(tracing.persistent_rdd_ids(spark) - rdds_before)
        spark.catalog.clearCache()
        rec["_out"] = out
        return rec

    # --- checks -----------------------------------------------------------

    def check(self, op, rec: dict) -> None:
        """Sets ``rec['check']`` to None (passed) or a reason."""
        import oracle

        out = rec.pop("_out")
        if "error" in rec:
            rec["check"] = "raised"
            return
        if op.kind == "query":
            rec["check"] = oracle.compare_rows(out, op.want)
            rec["rows"] = len(out)
        elif op.kind == "read":
            rec["check"] = oracle.same_profile(out, op.want["values"])
            rec["rows"] = int(out[0])
        else:
            rec["check"] = None

    # --- passes -------------------------------------------------------------

    def run_pass(self, units, index: int, traced: bool, jobs) -> dict:
        recs = []
        for unit in units:
            for op in unit:
                rec = self.run_op(op, f"p{index}:{op.name}", traced, jobs)
                self.check(op, rec)
                recs.append(rec)
        # rows an export wrote = rows its read-back found (checked)
        rows = {r["op"].split(":", 1)[1]: r.get("rows", 0) for r in recs if r["kind"] == "read"}
        for r in recs:
            if r["kind"] == "export":
                r["rows"] = rows.get(r["op"].split(":", 1)[1], 0)
        return {
            "index": index,
            "traced": traced,
            "wall_s": sum(r["wall_s"] for r in recs),
            "ops": recs,
        }

    def run_known_failures(self, known) -> list[dict]:
        out = []
        for op in known:
            rec = self.run_op(op, f"known:{op.name}", False, None)
            rec.pop("_out")
            rec["reproduced"] = "error" in rec
            out.append(rec)
        return out

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def stop_spark() -> None:
    """Stop Spark if this process started it, and wait for the JVM and its
    Python workers to exit.  Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    reap(children)


def export_metrics(passes) -> dict:
    """export_rows_per_s, read_rows_per_s (medians over warm passes)."""
    ex, rd = [], []
    for p in passes:
        ops = p["ops"]
        ex_t = sum(r["wall_s"] for r in ops if r["kind"] == "export")
        rd_t = sum(r["wall_s"] for r in ops if r["kind"] == "read")
        ex.append(sum(r["rows"] for r in ops if r["kind"] == "export") / ex_t)
        rd.append(sum(r["rows"] for r in ops if r["kind"] == "read") / rd_t)
    return {"export_rows_per_s": statistics.median(ex),
            "read_rows_per_s": statistics.median(rd)}


def layer_metrics(p: dict, slots: int, tracer) -> dict:
    """Per-layer metrics of one traced pass, summed over its ops, and the
    self time of each span name."""
    ops = p["ops"]
    groups = {f"p{p['index']}:{r['op']}" for r in ops}
    spans = [s for s in tracer.spans if s.op in groups]

    def count(name):
        return sum(1 for s in spans if s.name == name)

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    def opsum(key):
        return sum(r.get(key, 0) for r in ops)

    outputs = sorted({o for r in ops for o in r.get("outputs", ())})
    sizes = [tracing.du(o) for o in outputs if os.path.exists(o)]
    m = {
        "operators.build_s": total("operators.build"),
        "operators.build_jobs": opsum("build_jobs"),
        "looputil.loops": count("looputil.loop"),
        "looputil.loop_s": total("looputil.loop"),
        "cache.persist_calls": count("cache.persist") + count("cache.materialize"),
        "cache.materialize_s": total("cache.materialize"),
        "cache.checkpoint_calls": count("cache.checkpoint"),
        "cache.checkpoint_s": total("cache.checkpoint"),
        "cache.storage_mb_peak": max((r.get("storage_mb_peak", 0.0) for r in ops), default=0.0),
        "cache.rdds_left": opsum("rdds_left"),
        "tables.load_table_calls": count("tables.load_table"),
        "tables.load_table_s": total("tables.load_table"),
        "spread.calls": count("spread.spread_fanout"),
        "sources.read_s": total("sources.read_source"),
        "sinks.write_s": total("sinks.write_output"),
        "sinks.bytes_written": sum(b for b, _ in sizes),
        "sinks.files_written": sum(f for _, f in sizes),
        "export.export_s": total("export.export"),
        "plans.shuffle_count": opsum("plans.shuffle_count"),
        "plans.physical_plan_kb": opsum("plans.physical_plan_kb"),
    }
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
                "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
                "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                "spark.shuffle_fetch_wait_s", "spark.spill_mb", "spark.input_mb",
                "spark.output_mb"):
        m[key] = opsum(key)
    m["spark.slot_util"] = metrics.slot_util(m["spark.executor_run_s"], m["spark.job_s"], slots)
    selfs = metrics.self_times(spans)
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.name] = by_layer.get(s.name, 0.0) + selfs[s.sid]
    return m, by_layer


UNITS = {
    "setup_s": "s", "cold_wall_s": "s", "wall_s": "s", "peak_rss_mb": "MiB",
    "fail_frac": "ratio", "export_rows_per_s": "rows/s", "read_rows_per_s": "rows/s",
    "out_bytes_per_row": "B/row", "cli_s": "s",
}
# the gated metrics, as in BENCHMARK.json; cold_wall_s is printed but not
# gated: on llm_curation its quartile spread over ten seeds reached 0.29 on
# a shared 4-core VM, beyond the largest bound, 0.25
END_TO_END = ["setup_s", "wall_s"]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith("_mb_peak"):
        return "MiB"
    if name.endswith("_kb"):
        return "KiB"
    if name.endswith("bytes_written"):
        return "B"
    if name.endswith("slot_util"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "sql2all_spark", "__init__.py")):
        print(f"error: no sql2all_spark package beside {BENCH}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("error: another benchmark run holds perfbench/.work/lock", file=sys.stderr)
        return 3
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    scratch = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(scratch)
    # inherited by this process's JVM, the generator and the CLI run
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_LOCAL_DIR": scratch,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,
    })
    try:
        return run(args, run_dir, t_start, scratch)
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        lock.close()


def run(args, run_dir, t_start, scratch) -> int:
    env_info = {"nproc": nproc(), "load1_start": os.getloadavg()[0],
                "scratch_fs": mount_fs(scratch), "python": platform.python_version()}
    steal0 = steal_s()
    data = ensure_data()
    cli = None
    if args.workload == "export_etl" and not args.trace:
        import payment as payment_table

        payment = os.path.join(run_dir, "payment.sqlite")
        payment_table.write_payment_sqlite(payment, args.seed)
        # before this process starts its own JVM: two JVMs never overlap
        cli_out = os.path.join(run_dir, "cli", "payment.csv")
        cli = (*run_cli(payment, cli_out), cli_out)
    r = Runner(args, run_dir, data)
    setup = r.setup()
    import duckdb
    import pyarrow
    import pyspark

    import oracle
    import workloads

    env_info.update(pyspark=pyspark.__version__, pyarrow=pyarrow.__version__,
                    duckdb=duckdb.__version__)
    units, known = workloads.build(args.workload, args.seed, r.specs, r.paths)
    key = f"data-v{DATA_VERSION}"
    cache_dir = os.path.join(WORK, "oracle-cache")
    from sql2all_spark.tables import TABLE_NAMES, load_table

    sf001 = {t: os.path.join(r.paths["sf001"], f"{t}.parquet") for t in TABLE_NAMES}
    sf01 = {"src": os.path.join(r.paths["sf01"], "lineitem.parquet"),
            "orders": os.path.join(r.paths["sf01"], "orders.parquet")}
    oracles = {"sf001": oracle.Oracles(sf001, key + "/sf0.01", cache_dir),
               "sf01": oracle.Oracles(sf01, key + "/sf0.1", cache_dir)}
    try:
        workloads.attach_oracles(units, oracles, r.paths["orders_sqlite"])
    finally:
        for o in oracles.values():
            o.close()
    if args.workload == "export_etl":
        # the join SQL reads orders beside the exported source
        load_table(r.spark, r.paths["sf01"], "orders").createOrReplaceTempView("orders")

    jobs = tracing.JobIds(r.spark) if args.trace else None
    passes = [r.run_pass(units, 0, bool(args.trace), jobs)]
    # one untimed settle pass: the first pass after the cold one is still
    # warming up, by an amount that depends on the op order
    passes.append(r.run_pass(units, 1, False, jobs))
    passes[-1]["settle"] = True
    # traced runs make four timed passes, untraced-traced-traced-untraced,
    # so a drift in warm-up cancels out of the tracing overhead; untraced
    # runs make one more only if a pass is shorter than --seconds, which
    # keeps a run near a minute, inside the benchmark's total time budget
    min_timed = 4 if args.trace else 1
    t_measure = time.perf_counter()
    while True:
        n_timed = len(passes) - 2
        elapsed = time.perf_counter() - t_measure
        late = time.perf_counter() - t_start > DEADLINE_S
        if n_timed >= min_timed and (elapsed >= args.seconds or late):
            break
        traced = bool(args.trace) and n_timed % 4 in (1, 2)
        passes.append(r.run_pass(units, len(passes), traced, jobs))
    known_recs = r.run_known_failures(known)
    # host contention during the run, to tell host drift from a regression
    env_info["steal_s"] = steal_s() - steal0
    peak_rss = r.peak_rss_mb()
    warm = passes[2:]

    ops = [rec for p in passes for rec in p["ops"]]
    attempted = len(ops)
    failed = sum(1 for rec in ops if rec["check"] is not None)
    notes = [f"{rec['op']} (pass {p['index']}): {rec.get('error') or rec['check']}"
             for p in passes for rec in p["ops"] if rec["check"] is not None]
    result = {"setup": setup, "env": env_info, "known_failures": known_recs}
    human = {
        "setup_s": setup["setup_s"],
        "cold_wall_s": passes[0]["wall_s"],
        "wall_s": statistics.median(p["wall_s"] for p in warm if not p["traced"]),
        "peak_rss_mb": peak_rss,
    }
    if args.workload == "export_etl" and not args.trace:
        human.update(export_metrics(warm))
        last = warm[-1]["ops"]
        rows = sum(rec["rows"] for rec in last if rec["kind"] == "export")
        nbytes = sum(tracing.du(op.out)[0] for u in units for op in u if op.kind == "export")
        human["out_bytes_per_row"] = nbytes / rows
        cli_wall, cli_err, cli_out = cli
        attempted += 1
        if cli_err is None:
            cli_err = check_cli(payment, cli_out)
        if cli_err is not None:
            failed += 1
            notes.append(f"cli: {cli_err}")
        human["cli_s"] = cli_wall
    human["fail_frac"] = metrics.fail_frac(failed, attempted)

    metrics_out = {}
    if args.trace:
        traced_passes = [p for p in warm if p["traced"]]
        layers, self_s = layer_metrics(traced_passes[-1], r.slots, r.tracer)
        setup_spans = [s for s in r.tracer.spans if s.op is None]
        layers["session.get_spark_s"] = sum(
            s.end - s.start for s in setup_spans if s.name == "session.get_spark")
        layers["registry.all_specs_s"] = sum(
            s.end - s.start for s in setup_spans if s.name == "registry.all_specs")
        layers["process.peak_rss_mb"] = peak_rss
        layers["trace.overhead_s"] = statistics.mean(
            p["wall_s"] for p in traced_passes
        ) - statistics.mean(p["wall_s"] for p in warm if not p["traced"])
        cold_layers, _ = layer_metrics(passes[0], r.slots, r.tracer)
        result.update(layers=layers, cold_layers=cold_layers, self_s=self_s,
                      spans=[vars(s) for s in r.tracer.spans])
        for name, value in sorted(layers.items()):
            metrics_out[name] = {"value": value, "unit": layer_unit(name)}
    else:
        for name in END_TO_END:
            metrics_out[name] = {"value": human[name], "unit": UNITS[name]}
    result.update(e2e=human, passes=passes, notes=notes)
    stop_spark()

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    detail = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump(result, f, indent=1, default=str)

    print(f"env: {json.dumps(env_info, sort_keys=True)}")
    print(f"workload {args.workload}: {len(units)} units, {len(warm)} warm passes, "
          f"{len(known_recs)} known failures run "
          f"({sum(k['reproduced'] for k in known_recs)} reproduced)")
    if args.trace:
        print(f"  {'wall_s (untraced)':<28} {human['wall_s']:14.4f} s")
        for name, m in metrics_out.items():
            print(f"  {name:<28} {m['value']:14.4f} {m['unit']}")
        for name, value in sorted(self_s.items()):
            print(f"  self {name:<23} {value:14.4f} s")
    else:
        for name, value in human.items():
            print(f"  {name:<20} {value:14.4f} {UNITS[name]}")
    for note in notes:
        print(f"  FAILED {note}")
    print(f"detail: {os.path.relpath(detail, ROOT)}")
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics_out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
