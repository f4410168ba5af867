#!/usr/bin/env python
"""Union-find replay verification of ``mm_phash_clusters`` for sf1 soaks.

Same rationale as ``verify_clusters_sf1.py`` (the n-gram-Jaccard cluster
family): the registered oracle is a DuckDB RECURSIVE CTE transitive
closure, fine at the sf0.01 driver gate, 312s already at sf0.1 (the
pHash pair mining is an all-pairs O(n²) join on top of per-doc signature
synthesis), and hours at sf1 — while the Spark side finishes in ~5s.
This script verifies the SAME contract in near-linear time beyond the
pair mining:

1. mine the pair list with the NON-recursive part of the registered
   oracle (``multimodal_shared.phash_pairs_oracle`` — identical SQL to
   the ``mm_phash_neardup`` soak entry, which runs live at sf1),
2. union-find the components in plain Python (min-label semantics,
   independent of both Spark's star contraction and the CTE),
3. replay the reporting policy (labels + keeper flag + sizes) in pandas,
4. compare against the LIVE Spark output cell-for-cell.

``--validate`` additionally runs the real recursive oracle (cheap at
sf0.01) and asserts the replay reproduces it exactly.

Patches the entry into ``--json-out`` with ``method: replay``.

Usage:
  python tools/verify_phash_clusters_sf1.py [--sf-dir REPO/.testdata_sf1]
                                            [--json-out CHECK_FULL_r10_sf1.json]
  python tools/verify_phash_clusters_sf1.py --sf-dir /root/testdata/sf0.01 --validate
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from verify_clusters_sf1 import components, frame_key  # noqa: E402


def expected_frame(con) -> pd.DataFrame:
    from sql2all_spark.operators.multimodal_shared import phash_pairs_oracle

    pairs = con.execute(
        f"SELECT doc_a, doc_b FROM ({phash_pairs_oracle()}) p"
    ).fetchdf()
    comp = components(pairs)
    docs = con.execute("SELECT doc_id FROM documents").fetchdf()
    docs["cluster_id"] = [comp.get(int(d), int(d)) for d in docs["doc_id"]]
    docs["is_keeper"] = (docs["doc_id"] == docs["cluster_id"]).astype("int32")
    docs["cluster_size"] = (
        docs.groupby("cluster_id")["doc_id"].transform("size").astype("int64")
    )
    return docs[["doc_id", "cluster_id", "is_keeper", "cluster_size"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".testdata_sf1"))
    ap.add_argument("--json-out", default=None)
    ap.add_argument(
        "--validate",
        action="store_true",
        help="also run the registered recursive oracle (cheap at sf0.01) "
        "and assert the replay reproduces it exactly",
    )
    args = ap.parse_args()

    import duckdb

    from sql2all_spark.registry import all_specs
    from sql2all_spark.session import get_spark
    from sql2all_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    t0 = time.time()
    exp = expected_frame(con)
    replay_sec = round(time.time() - t0, 2)

    specs = all_specs()
    name = "mm_phash_clusters"
    if args.validate:
        odf = con.execute(specs[name].oracle).fetchdf()
        assert frame_key(odf) == frame_key(exp), (
            "replay disagrees with the recursive oracle"
        )
        print("validate: replay == recursive oracle for mm_phash_clusters")

    spark = get_spark("verify-phash-clusters")
    t0 = time.time()
    sdf = specs[name].builder(spark, args.sf_dir).toPandas()
    spark_sec = round(time.time() - t0, 2)
    ok = frame_key(sdf) == frame_key(exp)
    result = {
        "name": name,
        "spark_rows": len(sdf),
        "spark_sec": spark_sec,
        "oracle_rows": len(exp),
        "status": "OK" if ok else "VALUE_MISMATCH",
        "method": "replay",
        "replay_sec": replay_sec,
    }
    print(result)

    if args.json_out:
        with open(args.json_out) as f:
            art = json.load(f)
        art["results"][name] = result
        art["n_queries"] = len(art["results"])
        art["n_passed"] = sum(
            1
            for r in art["results"].values()
            if r["status"] in ("OK", "ROWS_ONLY")
        )
        with open(args.json_out, "w") as f:
            json.dump(art, f, indent=1)
        print(f"patched {args.json_out}: {art['n_passed']}/{art['n_queries']}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
