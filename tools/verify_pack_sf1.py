#!/usr/bin/env python
"""O(n) replay verification of ``text_pack_sequences`` for the sf1 soak.

The query's registered oracle is a DuckDB recursive CTE that replays the
greedy walk one document per iteration; each iteration re-joins the full
document list, so the oracle is O(iterations × n) — fine at the sf0.01
driver gate and the sf0.1 soak, but ~10k iterations × 45k rows at sf1
(hours).  The packing semantics are a sequential fold, so this script
verifies the SAME contract in O(n): replay the greedy walk in plain pandas
(independent of the Spark applyInPandas implementation), aggregate
identically, and compare frames cell-for-cell.

Appends/overwrites the ``text_pack_sequences`` entry in the given
``--json-out`` artifact with ``method: python-replay`` so the record is
explicit about which verification form ran at this scale.

Usage: python tools/verify_pack_sf1.py [--sf-dir REPO/.testdata_sf1]
                                       [--json-out CHECK_FULL_r7_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PACK_CAP = 256  # mirrors operators/text.py:PACK_CAP


def expected_packs(sf_dir: str) -> pd.DataFrame:
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["lang", "doc_id", "text"]
    ).to_pandas()
    docs["n_tok"] = docs["text"].str.split(" ").str.len()
    docs = docs[docs["n_tok"] <= PACK_CAP].drop(columns=["text"])
    out = []
    for lang, g in docs.groupby("lang", sort=False):
        g = g.sort_values("doc_id").reset_index(drop=True)
        fill, pid, ids = PACK_CAP + 1, -1, []
        for n in g["n_tok"]:
            if fill + n <= PACK_CAP:
                fill += n
            else:
                pid += 1
                fill = n
            ids.append(pid)
        g["pack_id"] = ids
        out.append(g)
    packed = pd.concat(out)
    agg = (
        packed.groupby(["lang", "pack_id"])
        .agg(
            n_docs=("doc_id", "size"),
            pack_tokens=("n_tok", "sum"),
            first_doc=("doc_id", "min"),
            last_doc=("doc_id", "max"),
        )
        .reset_index()
    )
    return agg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".testdata_sf1"))
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from sql2all_spark.registry import all_specs
    from sql2all_spark.session import get_spark

    spark = get_spark("verify-pack")
    t0 = time.time()
    got = (
        all_specs()["text_pack_sequences"]
        .builder(spark, args.sf_dir)
        .toPandas()
    )
    spark_sec = round(time.time() - t0, 2)
    want = expected_packs(args.sf_dir)

    key = ["lang", "pack_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    want = want[got.columns]  # same column order
    for frame in (got, want):
        for c in frame.columns:
            if c != "lang":
                frame[c] = frame[c].astype("int64")
    same_shape = got.shape == want.shape
    mismatch = None
    if same_shape:
        cmp = got.compare(want)
        if len(cmp):
            mismatch = cmp.head(3).to_string()
    status = "OK" if same_shape and mismatch is None else "VALUE_MISMATCH"
    res = {
        "name": "text_pack_sequences",
        "spark_rows": int(len(got)),
        "spark_sec": spark_sec,
        "oracle_rows": int(len(want)),
        "status": status,
        "method": (
            "python-replay of the greedy walk (the registered recursive-CTE"
            " oracle is O(iterations x n) in DuckDB - infeasible at sf1;"
            " same contract, O(n))"
        ),
    }
    if mismatch:
        res["first_diff"] = mismatch
    print(res)

    if args.json_out:
        with open(args.json_out) as f:
            art = json.load(f)
        art["results"]["text_pack_sequences"] = res
        art["n_queries"] += 1
        if status == "OK":
            art["n_passed"] += 1
        with open(args.json_out, "w") as f:
            json.dump(art, f, indent=1)
        print(f"merged into {args.json_out}")


if __name__ == "__main__":
    main()
