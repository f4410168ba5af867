"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on) but every config here is chosen to also hold
on a large multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting) so the
  same plan adapts from 60k rows to 100 TB without re-tuning.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE's coalescing makes a high initial value cheap.
- Arrow enabled for every pandas-UDF exchange (the only Python hot paths we
  allow are Arrow-batched).
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_driver_mem() -> str:
    """Driver heap default, clamped to the host (ADVICE r7).

    16g is right for the 128 GiB bench box (the r7 sf1 soak OOMed the
    local-mode 1g default long before the box was under pressure), but a
    blind 16g prevents JVM startup on smaller hosts.  Clamp to ~half of
    detected system memory, floor 1 GiB; ``SPARK_GRAFT_DRIVER_MEM``
    overrides outright (documented in README)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total_gib = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass  # non-Linux host — keep the conservative fallback below
    if total_gib <= 0:
        return "4g"
    return f"{max(1, min(16, total_gib // 2))}g"


# Minimum free space on /dev/shm before it is elected as shuffle scratch.
# Local-mode shuffle volumes in this engine's regime are MBs-to-low-GBs;
# 16 GiB of headroom means shuffle files can never meaningfully compete
# with page cache or the JVM for RAM.  A cluster (or any box where shm is
# tight — containers commonly mount /dev/shm at 64 MiB) fails the gate and
# keeps Spark's own default; SPARK_GRAFT_LOCAL_DIR points at real NVMe
# there.
_SHM_MIN_FREE_BYTES = 16 << 30


def _default_local_dir(master: str) -> str | None:
    """Shuffle/spill scratch directory (``spark.local.dir``).

    Spark defaults to ``/tmp``, which on this box is ext4 on a virtio
    disk with ~1.7 ms latency per small write (measured: 200×64 KB
    appends = 0.34 s on /tmp vs 0.006 s on tmpfs) — and shuffle-file
    writes are exactly that pattern, one small file per (map task ×
    reduce partition).  SQL-tab metrics showed single Exchanges of
    ~250k slim rows charging 30+ s of cumulative "shuffle write time"
    (~1 s per map task) purely to this latency.  The guide's baseline
    configuration (§9) assumes "machines with fast local disks"; on a
    RAM-rich sandbox the equivalent is tmpfs — but a RAM-backed
    shuffle dir is only SAFE when shuffle volumes are far below free
    RAM, so the default is gated (VERDICT r16 #4 / ADVICE r16):

    - only for ``local[*]`` masters (a cluster's shuffle volume is
      unbounded from here; its fast-disk path is the env override);
    - only when /dev/shm has ≥ ``_SHM_MIN_FREE_BYTES`` free
      (``os.statvfs``) — a container's 64 MiB default shm, or a box
      already using shm, falls back to Spark's default.

    ``SPARK_GRAFT_LOCAL_DIR`` overrides outright (set it to a real
    NVMe path on a cluster); an EMPTY value explicitly disables the
    tmpfs default (ADVICE r16: the old ``env or None`` read as if it
    did, but was unreachable).  Any failure falls back to Spark's own
    default.  Static conf: only effective for the JVM that launches
    the session — the driver-contract path (configure_existing) keeps
    the driver's own setting.  Called from :func:`get_spark` (not at
    import — ADVICE r16: no mkdir side effect on module import)."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env is not None:
        return env or None  # empty string = disable the tmpfs default
    if not master.startswith("local"):
        return None
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return None
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize < _SHM_MIN_FREE_BYTES:
            return None
        d = os.path.join(shm, "sql2all-spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    except OSError:
        return None


DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10k rows/Arrow batch keeps pandas-UDF peak memory bounded at wide rows
    # (binary/multimodal columns) while amortizing the Python call overhead.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # An events.parquet may store ts as INT64 TIMESTAMP(NANOS) (the
    # fixtures store MICROS), which Spark's parquet reader rejects
    # outright; read NANOS as raw long and let
    # tables.normalize_events_ts convert either encoding to a
    # microsecond timestamp (integer div — doubles cannot hold ns-epoch
    # magnitudes).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet scans: vectorized reader is default-on; make pushdown explicit.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Broadcast threshold: dims (region/nation/supplier/part at test SF) stay
    # broadcast; at 100 TB the big tables exceed this and fall back to SMJ.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local mode runs driver + all executor threads in ONE JVM whose heap
    # defaults to 1g — the r7 sf1 soak hit "Not enough memory to build and
    # broadcast" there long before the box (128 GiB) was under pressure.
    # Static conf: only takes effect on the session that launches the JVM;
    # configure_existing skips it on a running session.
    "spark.driver.memory": _default_driver_mem(),
    "spark.ui.enabled": "false",
}

def cpu_count() -> int:
    """Local-mode width: ``SPARK_GRAFT_CPUS`` when set (the deployment
    override), else the CPUs in this process's affinity mask —
    ``os.cpu_count()`` where the platform has no affinity call."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def get_spark(
    app_name: str = "sql2all_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.  Idempotent per JVM."""
    # Python workers unpickle pandas UDFs BY REFERENCE (cloudpickle keeps
    # module-level functions as module imports), so every worker must be
    # able to import sql2all_spark.  Launched from the repo root that
    # happens via cwd; launched from anywhere else (the driver-contract
    # snippet runs from /tmp) it fails with ModuleNotFoundError inside
    # read_udfs.  Export the package root on PYTHONPATH before the JVM —
    # and hence the worker daemon — starts; on a real cluster the package
    # ships via --py-files / a site install and this is a no-op.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    cpus = cpu_count()
    resolved_master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(resolved_master)
    confs = dict(DEFAULT_CONFS)
    local_dir = _default_local_dir(resolved_master)
    if local_dir:
        confs["spark.local.dir"] = local_dir
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cpus)
    confs.update(extra_confs or {})
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ensure oracle-critical session confs hold even on a reused session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to a session we did not create
    (the driver hands us one in ``__spark_entry__.entry``)."""
    for k, v in DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep its value
    return spark
