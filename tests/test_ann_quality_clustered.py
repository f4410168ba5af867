"""Pinned ANN quality on the CLUSTERED fixture (VERDICT r11 #3).

The driver's uniform embeddings cap IVF recall at ~nprobe/K (routing
loss: the exact neighbors are spread over all 8 cells).  Real embedding
corpora cluster; tools/gen_clustered.py generates that regime
(8 Gaussian clusters, separation 8x spread).  These tests pin the two
findings the uniform fixture could not show:

1. cell routing RECOVERS recall — at nprobe=1 the probed cell holds the
   entire exact top-10 (routing ceiling 10/10) and the full IVF-PQ
   pipeline returns >= 9/10 of the true neighbors;
2. the fixture property that makes that honest holds at 10x the size
   (pure-numpy ceiling check, no Spark run).

Measured ledger (PERF_NOTES "ANN quality ledger, round-12"): clustered
n500 is 10/10 for raw AND residual at every nprobe in {1,2,4}; at n5000
residual beats raw 6/10 vs 4/10 (the FAISS by_residual=true win the
uniform fixture inverted).
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from tools.ann_quality import exact_and_routing


@pytest.fixture(scope="module")
def clustered_n500(tmp_path_factory, repo_root):
    out = tmp_path_factory.mktemp("clustered") / "n500"
    subprocess.run(
        [sys.executable, str(repo_root / "tools" / "gen_clustered.py"),
         "--n", "500", "--out", str(out)],
        check=True,
    )
    return str(out)


def test_clustered_routing_ceiling_is_total(clustered_n500):
    """nprobe=1 on the clustered fixture captures the whole exact top-10
    in the probed cell — the property the uniform fixture lacks."""
    _, ceilings = exact_and_routing(
        f"{clustered_n500}/embeddings.parquet", [1]
    )
    assert ceilings[1] == 10


def test_clustered_routing_ceiling_holds_at_10x():
    """Same property at n=5000 (numpy-only; the Spark-side recall at this
    size is in the PERF_NOTES ledger: residual 6/10 > raw 4/10)."""
    import tempfile

    from tools.gen_clustered import gen
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as d:
        pq.write_table(gen(5000), f"{d}/embeddings.parquet")
        _, ceilings = exact_and_routing(f"{d}/embeddings.parquet", [1])
    assert ceilings[1] == 10


def test_clustered_ivfpq_recall_recovers(spark, clustered_n500):
    """Full IVF-PQ (raw and residual) at nprobe=1 on clustered data:
    recall@10 >= 9 (measured: 10/10 for both)."""
    from sql2all_spark.operators.ivfpq import (
        ivfpq_residual_impl,
        ivfpq_topk_impl,
    )

    exact10, _ = exact_and_routing(
        f"{clustered_n500}/embeddings.parquet", [1]
    )
    for impl in (ivfpq_topk_impl, ivfpq_residual_impl):
        got = {r.vec_id for r in impl(spark, clustered_n500, 1).collect()}
        assert len(got & exact10) >= 9, impl.__name__

@pytest.fixture(scope="module")
def clustered_n5000(tmp_path_factory, repo_root):
    out = tmp_path_factory.mktemp("clustered") / "n5000"
    subprocess.run(
        [sys.executable, str(repo_root / "tools" / "gen_clustered.py"),
         "--n", "5000", "--out", str(out)],
        check=True,
    )
    return str(out)


def test_clustered_n5000_residual_recall_at_r128(spark, clustered_n5000):
    """The shortlist-R curve's chosen knee (VERDICT r12 #4, PERF_NOTES
    round-13): residual IVF-PQ at nprobe=1 with IVFPQ_SHORTLIST=128
    reaches recall@10 >= 8 on clustered n=5000 (measured 8/10; R=64
    gives 6/10, so the pin fails if the R sweep regresses).  The
    registered queries keep the oracle-baked R=64; the impls read the
    module global at call time, which is what the sweep (and this pin)
    exercises."""
    import sql2all_spark.operators.ivfpq as ivfpq_mod

    exact10, _ = exact_and_routing(
        f"{clustered_n5000}/embeddings.parquet", [1]
    )
    pinned = ivfpq_mod.IVFPQ_SHORTLIST
    try:
        ivfpq_mod.IVFPQ_SHORTLIST = 128
        got = {
            r.vec_id
            for r in ivfpq_mod.ivfpq_residual_impl(
                spark, clustered_n5000, 1
            ).collect()
        }
    finally:
        ivfpq_mod.IVFPQ_SHORTLIST = pinned
    assert len(got & exact10) >= 8, sorted(got & exact10)
