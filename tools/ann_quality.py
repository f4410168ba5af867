#!/usr/bin/env python
"""ANN quality ledger: recall@10 of the IVF-PQ operators vs exact search.

Measures, for a fixture directory holding an ``embeddings.parquet``:

- ``raw``       — ivfpq_topk_impl (non-residual IVF-PQ + exact refine)
- ``residual``  — ivfpq_residual_impl (FAISS by_residual=true)

at an nprobe sweep, against two numpy ground truths:

- ``recall@10``   — overlap with the FULL-corpus exact L2 top-10
- ``ceiling``     — how many of the exact top-10 live in the probed
  cells at all (the routing ceiling: no in-cell scorer can beat this)

The decomposition separates ROUTING loss (ceiling < 10) from ADC/
shortlist loss (recall < ceiling).  Run on the driver's uniform fixture
AND tools/gen_clustered.py's mixture-of-Gaussians fixture to see what
clustering buys (VERDICT r11 #3 / PERF_NOTES "ANN quality ledger").

Routing ground truth replicates the operators' rule exactly
(operators/ivfpq.py _route_cells): centroid = the corpus vectors with
vec_id in IVFPQ_CENT_IDS; assign to argmin of ROUND(d2, 6) with
cent_id tiebreak; the probe's route is its nprobe nearest centroids
under the same ordering.

Usage:
  python tools/ann_quality.py --dir /root/testdata/sf0.01 --tag uniform-500
  python tools/ann_quality.py --dir .testdata_clustered/n500 --tag clustered-500
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TOPK = 10


def exact_and_routing(path: str, nprobes: list[int]):
    from sql2all_spark.operators.ivfpq import IVFPQ_CENT_IDS, IVFPQ_PROBE_ID

    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    probe_ix = int(np.nonzero(ids == IVFPQ_PROBE_ID)[0][0])

    d2 = ((vecs - vecs[probe_ix]) ** 2).sum(axis=1)
    mask = ids != IVFPQ_PROBE_ID
    cand_ids, cand_d2 = ids[mask], d2[mask]
    # match the operators' ordering: rounded distance, then vec_id
    key = np.lexsort((cand_ids, np.round(cand_d2, 6)))
    exact10 = set(cand_ids[key[:TOPK]].tolist())

    cent_rows = np.array([np.nonzero(ids == c)[0][0] for c in IVFPQ_CENT_IDS])
    cents = vecs[cent_rows]
    cd2 = np.round(
        ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 6
    )
    # argmin with cent_id tiebreak: np.argmin takes the first minimum and
    # IVFPQ_CENT_IDS is ascending, so first == lowest cent_id
    cell = np.array(IVFPQ_CENT_IDS)[np.argmin(cd2, axis=1)]
    probe_order = np.array(IVFPQ_CENT_IDS)[
        np.lexsort((IVFPQ_CENT_IDS, cd2[probe_ix]))
    ]
    ceilings = {}
    for np_ in nprobes:
        probed = set(probe_order[:np_].tolist())
        in_probed = {
            int(i)
            for i, c in zip(ids, cell)
            if c in probed and i != IVFPQ_PROBE_ID
        }
        ceilings[np_] = len(exact10 & in_probed)
    return exact10, ceilings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--nprobes", default="1,2,4")
    ap.add_argument(
        "--shortlists",
        default=None,
        help="comma list of IVFPQ_SHORTLIST values to sweep (the ADC"
        " R-vs-recall curve, VERDICT r12 #4); default: the pinned R only",
    )
    args = ap.parse_args()
    nprobes = [int(x) for x in args.nprobes.split(",")]

    exact10, ceilings = exact_and_routing(
        f"{args.dir}/embeddings.parquet", nprobes
    )

    import sql2all_spark.operators.ivfpq as ivfpq_mod
    from sql2all_spark.operators.ivfpq import (
        ivfpq_residual_impl,
        ivfpq_topk_impl,
    )
    from sql2all_spark.session import get_spark

    spark = get_spark("ann_quality")

    shortlists = (
        [int(x) for x in args.shortlists.split(",")]
        if args.shortlists
        else [ivfpq_mod.IVFPQ_SHORTLIST]
    )
    pinned_r = ivfpq_mod.IVFPQ_SHORTLIST
    rows = []
    try:
        for r_short in shortlists:
            # the impls read the module global at call time; the registered
            # queries' oracles were f-string-baked at import and are not
            # touched by this sweep
            ivfpq_mod.IVFPQ_SHORTLIST = r_short
            for np_ in nprobes:
                for variant, impl in (
                    ("raw", ivfpq_topk_impl),
                    ("residual", ivfpq_residual_impl),
                ):
                    got = {
                        r.vec_id for r in impl(spark, args.dir, np_).collect()
                    }
                    rows.append(
                        {
                            "tag": args.tag,
                            "variant": variant,
                            "nprobe": np_,
                            "shortlist_r": r_short,
                            "recall_at_10": len(got & exact10),
                            "routing_ceiling": ceilings[np_],
                        }
                    )
                    print(json.dumps(rows[-1]))
    finally:
        ivfpq_mod.IVFPQ_SHORTLIST = pinned_r
    spark.stop()

    print(
        "\n| fixture | variant | nprobe | R | recall@10 | routing ceiling |"
    )
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['tag']} | {r['variant']} | {r['nprobe']}"
            f" | {r['shortlist_r']}"
            f" | {r['recall_at_10']}/10 | {r['routing_ceiling']}/10 |"
        )


if __name__ == "__main__":
    main()
