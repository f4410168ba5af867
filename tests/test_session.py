"""get_spark's overlapped start-up: the warm-ups run in their own job
group, only when the call launches the JVM, and a fresh session reads
back the same confs however soon it is stopped.

Each case runs in a fresh interpreter, so get_spark launches its own
JVM.  The shared test session cannot show the warm-up jobs: the status
store keeps only the last ``spark.ui.retainedJobs`` (1000) jobs, and a
full run evicts them long before this file runs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

# argv: repo root, spark.local.dir, mode.  "stop" reads every conf
# get_spark set back from both views and stops at once, while the SQL
# warm-up still runs; "warm" runs one job of its own, waits for the
# warm-ups, reads the job groups and calls get_spark a second time.
_PROBE = """
import json, sys, threading
sys.path.insert(0, sys.argv[1])
from sql2all_spark import session as s
extra = {"spark.sql.files.maxPartitionBytes": "67108864"}
def start():
    return s.get_spark("startup-probe", master="local[2]", shuffle_partitions=3,
                       extra_confs=extra)
def warmups():
    return [t for t in threading.enumerate() if t.name == "sql2all-spark-warmup"]
spark = start()
if sys.argv[3] == "stop":
    want = {**s.DEFAULT_CONFS, "spark.local.dir": sys.argv[2],
            "spark.sql.shuffle.partitions": "3", **extra,
            "spark.app.name": "startup-probe", "spark.master": "local[2]"}
    sc_conf = dict(spark.sparkContext.getConf().getAll())
    got = {k: [sc_conf.get(k), spark.conf.get(k, None)] for k in want}
    spark.stop()
    print(json.dumps({"want": want, "got": got}))
else:
    spark.range(10).count()  # the caller's first job, beside the SQL warm-up
    for t in warmups():
        t.join(120)
    st = spark.sparkContext.statusTracker()
    warm = sorted(st.getJobIdsForGroup(s.WARMUP_GROUP))
    ungrouped = sorted(st.getJobIdsForGroup())
    again = start()
    rerun = len(warmups())
    print(json.dumps({"warm": warm, "ungrouped": ungrouped, "same": again is spark,
                      "rerun": rerun,
                      "warm_after": sorted(st.getJobIdsForGroup(s.WARMUP_GROUP))}))
    spark.stop()
"""


def _probe(repo_root, tmp_path, mode: str) -> dict:
    local_dir = tmp_path / "spark-local"
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g",
           "SPARK_GRAFT_LOCAL_DIR": str(local_dir)}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(repo_root), str(local_dir), mode],
        capture_output=True, text=True, env=env, timeout=300, cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Traceback" not in out.stdout + out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_warmups_grouped_and_not_rerun(repo_root, tmp_path):
    res = _probe(repo_root, tmp_path, "warm")
    # the one-task scheduler job and at least one SQL job
    assert len(res["warm"]) >= 2, res
    assert res["ungrouped"] and not set(res["warm"]) & set(res["ungrouped"]), res
    # a second call reuses the session and starts no warm-up
    assert res["same"] and res["rerun"] == 0, res
    assert res["warm_after"] == res["warm"], res


def test_fresh_session_confs_and_early_stop(repo_root, tmp_path):
    res = _probe(repo_root, tmp_path, "stop")
    bad = {k: (v, res["got"][k]) for k, v in res["want"].items()
           if res["got"][k] != [v, v]}
    assert not bad, bad
