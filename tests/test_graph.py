"""Connected-components machinery: both paths of ``star_components`` —
driver union-find within the local-loop gate, and the alternating
large-star/small-star loop above it, which must converge
logarithmically on deep chains (the pathological case for min-label
propagation, whose round count is the graph diameter)."""

from __future__ import annotations

import math
import sys

from sql2all_spark import looputil
from sql2all_spark.operators.graph import star_components


def star_paths(monkeypatch):
    """Yield each ``star_components`` path by name.  These inputs are
    within the default gate, so it takes the local path; a gate of -1
    (not 0: an empty edge list counts 0 rows) forces the distributed
    loop."""
    yield "local"
    monkeypatch.setattr(looputil, "LOCAL_LOOP_MAX_ROWS", -1)
    yield "distributed"


def labels_of(labels):
    return {r.doc_id: r.cluster_id for r in labels.collect()}


def test_star_converges_log_rounds_on_deep_chain(spark, monkeypatch):
    """A 64-node chain has diameter 63: label propagation needs ~63 rounds,
    alternating star must stay within log2(diameter)+2 contractions —
    +2 more for the r17 pair-batched convergence check (signatures are
    taken every OTHER contraction, so detection can overshoot by one
    no-op pair).  The local path runs no rounds."""
    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    for path in star_paths(monkeypatch):
        labels, rounds = star_components(chain)
        if path == "distributed":
            assert 0 < rounds <= math.log2(n - 1) + 4, rounds
        else:
            assert rounds == 0
        assert labels_of(labels) == {i: 0 for i in range(n)}, path


def test_star_matches_components_on_multi_cluster_graph(spark, monkeypatch):
    """Mixed shapes — a triangle, a 5-chain, a pair, star-of-4 — all label
    to their component minimum; a node whose only edge is a self-loop
    gets no label."""
    edges = [
        (1, 2), (2, 3), (3, 1),           # triangle → 1
        (10, 11), (11, 12), (12, 13), (13, 14),  # chain → 10
        (20, 21),                          # pair → 20
        (30, 31), (30, 32), (30, 33),      # star → 30
        (40, 40),                          # self-loop only → unlabelled
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    for path in star_paths(monkeypatch):
        labels, _ = star_components(df)
        assert labels.schema.simpleString() == (
            "struct<doc_id:bigint,cluster_id:bigint>"
        ), path
        assert labels_of(labels) == {
            1: 1, 2: 1, 3: 1,
            10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
            20: 20, 21: 20,
            30: 30, 31: 30, 32: 30, 33: 30,
        }, path


def test_star_handles_duplicate_and_reversed_edges(spark, monkeypatch):
    df = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 1), (3, 2)], "u long, v long"
    )
    for path in star_paths(monkeypatch):
        labels, _ = star_components(df)
        assert labels_of(labels) == {1: 1, 2: 1, 3: 1}, path


def test_star_empty_edges(spark, monkeypatch):
    df = spark.createDataFrame([], "u long, v long")
    for path in star_paths(monkeypatch):
        labels, rounds = star_components(df)
        assert labels.count() == 0, path
        if path == "distributed":
            assert 0 < rounds <= 4  # one converged contraction pair (r17 batching)
        else:
            assert rounds == 0


def test_truncate_lineage_uses_reliable_checkpoint_when_configured(
    sf_dir, repo_root
):
    """With a checkpoint dir configured, the iterative operators route
    lineage truncation through executor-loss-safe checkpoint() instead of
    localCheckpoint(), without changing a single result value: the
    cluster labels and the trained BPE merge rules.

    Runs in its OWN interpreter: setCheckpointDir is SparkContext-level and
    cannot be unset, so doing this on the shared session fixture would
    silently switch every later test to reliable checkpoints."""
    import subprocess

    script = """
import sys, glob, shutil, tempfile
from sql2all_spark.registry import all_specs
from sql2all_spark.session import get_spark
spark = get_spark("cktest", master="local[4]", shuffle_partitions=4)
sf_dir = sys.argv[1]
specs = all_specs()
names = ["dedup_clusters", "text_bpe_train"]
run = lambda n: sorted(map(tuple, specs[n].builder(spark, sf_dir).collect()))
baseline = {n: run(n) for n in names}
ckdir = tempfile.mkdtemp(prefix="sql2all_ck_")
spark.sparkContext.setCheckpointDir(ckdir)
assert spark.sparkContext.getCheckpointDir() is not None
for n in names:
    assert run(n) == baseline[n], "values changed under reliable checkpointing: " + n
assert glob.glob(ckdir + "/*/rdd-*"), "no checkpoint written to dir"
shutil.rmtree(ckdir, ignore_errors=True)
print("CKPT_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo_root,
    )
    assert "CKPT_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
