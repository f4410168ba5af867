#!/usr/bin/env python
"""Union-find replay verification of the dedup cluster family for sf1 soaks.

``dedup_clusters`` / ``dedup_clusters_star`` / ``dedup_keeper_select`` /
``sample_group_kfold`` share one registered oracle shape: a DuckDB
RECURSIVE CTE transitive closure over the n-gram-Jaccard near-dup graph.  The closure is fine at
the sf0.01 driver gate and the sf0.1 soak, but 45-55 MINUTES PER QUERY at
sf1 (NOTES r8) while the Spark sides finish in ~30s — the soak's long
poles.  Connected components are a sequential fixpoint, so this script
verifies the SAME contract in near-linear time:

1. mine the blocked pair list with the NON-recursive part of the shared
   oracle (DuckDB — the same inverted-index join the dedup_ngram_jaccard
   soak entry already times at sf1),
2. union-find the components in plain Python (min-label semantics).
   This union-find is a deliberately separate reference copy: the
   library's own driver-side union-find (``graph.star_components``
   below ``looputil.LOCAL_LOOP_MAX_ROWS`` edges) is the code under
   test, so the two are not merged,
3. replay each query's reporting policy (labels + keeper flag + sizes;
   keep-longest keeper selection) in pandas,
4. compare against the LIVE Spark output cell-for-cell.

``--validate`` additionally runs the real recursive oracle (cheap at
sf0.01) and asserts the replay reproduces it exactly — the same
validation chain ``verify_pack_sf1.py`` uses.

Patches the three entries into ``--json-out`` with ``method: replay``.

Usage:
  python tools/verify_clusters_sf1.py [--sf-dir REPO/.testdata_sf1]
                                      [--json-out CHECK_FULL_r9_sf1.json]
  python tools/verify_clusters_sf1.py --sf-dir /root/testdata/sf0.01 --validate
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


def _find(parent: dict, x: int) -> int:
    root = x
    while parent[root] != root:
        root = parent[root]
    while parent[x] != root:  # path compression
        parent[x], x = root, parent[x]
    return root


def components(pairs: pd.DataFrame) -> dict[int, int]:
    """doc_id -> min-doc_id-in-component, for edge-incident nodes only."""
    parent: dict[int, int] = {}
    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            # union by MIN label so the root IS the component's min doc_id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: _find(parent, x) for x in parent}


def expected_frames(con) -> dict[str, pd.DataFrame]:
    from sql2all_spark.operators.dedup_shared import (
        CLUSTER_JACCARD_FLOOR,
        NGRAM_PAIRS_ORACLE,
    )

    pairs = con.execute(
        f"SELECT doc_a, doc_b FROM ({NGRAM_PAIRS_ORACLE}) p"
        f" WHERE jaccard >= {CLUSTER_JACCARD_FLOOR}"
    ).fetchdf()
    comp = components(pairs)
    docs = con.execute(
        "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens"
        " FROM documents"
    ).fetchdf()
    docs["cluster_id"] = [
        comp.get(int(d), int(d)) for d in docs["doc_id"]
    ]
    docs["is_keeper"] = (docs["doc_id"] == docs["cluster_id"]).astype("int32")
    sizes = docs.groupby("cluster_id")["doc_id"].transform("size")
    docs["cluster_size"] = sizes.astype("int64")

    clusters = docs[["doc_id", "cluster_id", "is_keeper", "cluster_size"]]

    multi = docs[docs["cluster_size"] >= 2].copy()
    # keep-longest, tie-break lowest doc_id
    multi = multi.sort_values(
        ["cluster_id", "n_tokens", "doc_id"],
        ascending=[True, False, True],
    )
    heads = multi.groupby("cluster_id", sort=True).first()
    agg = multi.groupby("cluster_id", sort=True).agg(
        cluster_size=("doc_id", "size"), tot=("n_tokens", "sum")
    )
    keeper = pd.DataFrame(
        {
            "cluster_id": agg.index,
            "cluster_size": agg["cluster_size"].astype("int64"),
            "keeper_doc_id": heads["doc_id"].astype("int64"),
            "keeper_tokens": heads["n_tokens"].astype("int64"),
            "n_dropped": (agg["cluster_size"] - 1).astype("int64"),
            "dropped_tokens": (agg["tot"] - heads["n_tokens"]).astype("int64"),
        }
    ).reset_index(drop=True)
    # group-aware k-fold: fold = md5 bucket of the cluster id (the same
    # 60-bit base_hash both engines use, replayed in plain Python)
    import hashlib

    from sql2all_spark.operators.kfold import K_FOLDS

    def _fold(cid: int) -> int:
        h = int(hashlib.md5(str(int(cid)).encode()).hexdigest()[:15], 16)
        return h % K_FOLDS

    kfold = docs[["doc_id", "cluster_id", "cluster_size"]].copy()
    kfold["fold"] = kfold["cluster_id"].map(_fold).astype("int32")
    kfold = kfold[["doc_id", "cluster_id", "fold", "cluster_size"]]

    return {
        "dedup_clusters": clusters,
        "dedup_clusters_star": clusters,
        "dedup_keeper_select": keeper,
        "sample_group_kfold": kfold,
    }


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(str(int(v)) if pd.api.types.is_number(v) else str(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


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
    expected = expected_frames(con)
    replay_sec = round(time.time() - t0, 2)

    specs = all_specs()
    if args.validate:
        for name in expected:
            odf = con.execute(specs[name].oracle).fetchdf()
            assert frame_key(odf) == frame_key(expected[name]), (
                f"replay disagrees with the recursive oracle for {name}"
            )
        print(f"validate: replay == recursive oracle for {sorted(expected)}")

    spark = get_spark("verify-clusters")
    results = {}
    failures = 0
    for name, exp in expected.items():
        t0 = time.time()
        sdf = specs[name].builder(spark, args.sf_dir).toPandas()
        spark_sec = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        ok = frame_key(sdf) == frame_key(exp)
        failures += 0 if ok else 1
        results[name] = {
            "name": name,
            "spark_rows": len(sdf),
            "spark_sec": spark_sec,
            "oracle_rows": len(exp),
            "status": "OK" if ok else "VALUE_MISMATCH",
            "method": "replay",
            "replay_sec": replay_sec,
        }
        print(results[name])

    if args.json_out:
        with open(args.json_out) as f:
            art = json.load(f)
        art["results"].update(results)
        art["n_queries"] = len(art["results"])
        art["n_passed"] = sum(
            1
            for r in art["results"].values()
            if r["status"] in ("OK", "ROWS_ONLY")
        )
        with open(args.json_out, "w") as f:
            json.dump(art, f, indent=1)
        print(f"patched {args.json_out}: {art['n_passed']}/{art['n_queries']}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
