#!/usr/bin/env python
"""Deterministic N× scale-up of a testdata SF directory (default 10×).

The sf1 soak (VERDICT r6 #2, open since round 3) needs data one decade above
sf0.1, and the driver only ships sf{0.001,0.01,0.1}.  This tool derives an
sf1-equivalent dataset from sf0.1 by TILING: each fact table is concatenated
N times with per-copy key offsets (stride = max(key)+1 per key domain, the
same stride applied to every referencing column, so foreign keys stay valid
within a copy and copies are disjoint).  region/nation are fixed
enumerations and are not tiled, mirroring TPC-H semantics.

Two content transforms keep the scaled corpus non-pathological:

- ``documents.text``: verbatim copies would make every doc a 10-way exact/
  near duplicate, turning dedup outputs into synthetic 10-cliques (pair
  count × 45 per doc; verified: the simhash all-pairs oracle returned 6M
  pairs under naive tiling).  Copy k>0 RENAMES every token by appending
  the copy digit: a pure vocabulary renaming, so WITHIN-copy token-set and
  shingle structure is preserved exactly (near-dup pairs scale ~linearly,
  like a real corpus growing 10×) while cross-copy overlap is zero for
  both shingle-based ops (minhash/jaccard/contamination/spans) and
  token-set ops (simhash).
- ``embeddings.embedding``: verbatim vectors would make every vector a
  10-way cosine near-duplicate.  Copy k's vectors are rotated (circular
  shift by k positions), which preserves norms and within-copy geometry
  exactly while decorrelating copies.

Everything is a pure function of the source data and the copy index — no
RNG — so the scale-up is bit-reproducible.

Usage:
  python tools/gen_scale.py [--src /root/testdata/sf0.1]
                            [--out REPO/.testdata_sf1] [--tiles 10]
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DIM_TABLES = ["region", "nation"]

# table -> {column: key domain}; every column sharing a domain shifts by the
# same per-copy stride
KEY_DOMAINS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "ord", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "ord", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "evt", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

# domain -> (table, column) whose max defines the stride
DOMAIN_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "ord": ("orders", "o_orderkey"),
    "evt": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}


def _mutate_text(text: str, k: int) -> str:
    """Rename every token with a copy suffix: an injective vocabulary map,
    so within-copy structure is exactly preserved and cross-copy token/
    shingle overlap is zero."""
    return " ".join(f"{w}{k}" for w in text.split(" "))


def _tile(
    name: str, table: pa.Table, strides: dict[str, int], tiles: int
) -> pa.Table:
    copies = []
    key_cols = KEY_DOMAINS.get(name, {})
    for k in range(tiles):
        t = table
        for col, domain in key_cols.items():
            idx = t.schema.get_field_index(col)
            shifted = pc.add(t.column(col), k * strides[domain]).cast(
                t.schema.field(col).type
            )
            t = t.set_column(idx, t.schema.field(col), shifted)
        if k > 0 and name == "documents":
            texts = [_mutate_text(x, k) for x in t.column("text").to_pylist()]
            arr = pa.array(texts, type=t.schema.field("text").type)
            t = t.set_column(
                t.schema.get_field_index("text"), t.schema.field("text"), arr
            )
            n_chars = pa.array(
                [len(x) for x in texts], type=t.schema.field("n_chars").type
            )
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                t.schema.field("n_chars"),
                n_chars,
            )
        if k > 0 and name == "embeddings":
            vecs = t.column("embedding").to_pylist()
            rot = [v[k % len(v) :] + v[: k % len(v)] if v else v for v in vecs]
            arr = pa.array(rot, type=t.schema.field("embedding").type)
            t = t.set_column(
                t.schema.get_field_index("embedding"),
                t.schema.field("embedding"),
                arr,
            )
        copies.append(t)
    return pa.concat_tables(copies)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, ".testdata_sf1"))
    ap.add_argument("--tiles", type=int, default=10)
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    strides: dict[str, int] = {}
    for domain, (tbl, col) in DOMAIN_SOURCE.items():
        t = pq.read_table(os.path.join(args.src, f"{tbl}.parquet"), columns=[col])
        strides[domain] = int(pc.max(t.column(col)).as_py()) + 1

    for name in DIM_TABLES + list(KEY_DOMAINS):
        src = pq.read_table(os.path.join(args.src, f"{name}.parquet"))
        out = src if name in DIM_TABLES else _tile(name, src, strides, args.tiles)
        dest = os.path.join(args.out, f"{name}.parquet")
        pq.write_table(out, dest, row_group_size=1 << 20)
        print(f"{name}: {src.num_rows} -> {out.num_rows} rows, "
              f"{os.path.getsize(dest) >> 20} MiB")


if __name__ == "__main__":
    main()
