"""Deterministic inputs for the benchmark: the repository's fixture tables.

``write_tables`` writes the ten tables that ``sql2all_spark.tables`` loads
(``region`` … ``embeddings``) at sf0.1 and sf0.01.  The value lists, their
order and the order of the draws follow the fixture data (FIXTURES.md §B),
so the generated tables hold the fixtures' values: every column of every
table is equal to the fixture's at both scales, except ``events.ts``, where
0.02% of the values are 1 µs later.  Timestamps are written as microsecond
timestamps and each table as one parquet row group, as in the fixtures.
``perfbench/NOTES.md`` lists the measured figures.

``write_orders_sqlite`` copies ``orders`` into a SQLite file.  The seeded
``payment`` table is in ``payment.py``, which needs no numpy.

Every value comes from one numpy PCG64 stream seeded with ``SEED``; the
benchmark's ``--seed`` does not change the data.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from payment import write_sqlite

SEED = 42
# value lists in the order the fixtures index them
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
# drawn uniformly from a 32-bit float: English 3/7, the others 1/7 each
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
ADJ = "red blue small large hot cold old new".split()
NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def _documents(rng, n):
    words = np.asarray(VOCAB, dtype=object)
    texts = []
    for _ in range(n):
        k = rng.integers(10, 100)
        texts.append(" ".join(words[rng.integers(0, len(VOCAB), k)]))
    # one document in twenty becomes a copy of another one plus a marker
    # word, the near-duplicate shape the dedup operators look for; copies
    # are made in order, so a copy of a copy ends in "dup dup"
    dups = rng.choice(n, n // 20, replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = texts[j] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(LANGS, dtype=object)[
                (rng.random(n, dtype=np.float32).astype(np.float64) * len(LANGS)).astype(int)
            ],
            "source": np.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n):
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def tables(sf: float) -> dict[str, pd.DataFrame]:
    """The ten tables at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    rng = np.random.Generator(np.random.PCG64(SEED))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    out = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                # all adjectives are drawn before all nouns
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(*rng.integers(0, 8, (2, n_part)))
                ],
                "p_brand": np.array(
                    [f"Brand#{k}" for k in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, P_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(
                    900 + (np.arange(n_part) % 1000) / 10, 1
                ),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
                "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
                "l_linestatus": _pick(rng, ["O", "F"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.sort(
                    np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev)
                ),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": np.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
                ),
            }
        ),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def write_tables(sf_dir: str, sf: float) -> None:
    """Write every table as ``<sf_dir>/<name>.parquet`` (one row group)."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in tables(sf).items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(
            tbl, os.path.join(sf_dir, f"{name}.parquet"),
            row_group_size=max(1, len(df)),
        )


def write_orders_sqlite(path: str, orders_parquet: str) -> None:
    """Copy the ``orders`` parquet table into a SQLite file (dates as
    ISO text, SQLite's own date representation)."""
    df = pq.read_table(orders_parquet).to_pandas()
    df["o_orderdate"] = df["o_orderdate"].dt.strftime("%Y-%m-%d")
    write_sqlite(
        path,
        "CREATE TABLE orders (o_orderkey INTEGER, o_custkey INTEGER, "
        "o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, "
        "o_orderpriority TEXT)",
        "INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)",
        zip(*(df[c].tolist() for c in df.columns)),
    )


SCALES = ((0.1, "sf0.1"), (0.01, "sf0.01"))


def compare(fixtures: str) -> None:
    """Print, per table and scale, the columns whose values differ from
    ``<fixtures>/<scale>/<table>.parquet``, and the share of rows that
    differ in each."""
    for sf, name in SCALES:
        for table, df in tables(sf).items():
            want = pq.read_table(os.path.join(fixtures, name, f"{table}.parquet"))
            got = pa.Table.from_pandas(df, preserve_index=False)
            diff = {}
            for col in want.column_names:
                a, b = got[col].to_pylist(), want[col].to_pylist()
                bad = len(a) != len(b) or sum(x != y for x, y in zip(a, b))
                if bad:
                    diff[col] = "row count" if len(a) != len(b) else f"{bad / len(b):.4%}"
            same = got.schema.remove_metadata().equals(want.schema.remove_metadata())
            print(f"{name} {table}: schema {'equal' if same else 'DIFFERS'}, "
                  f"differing columns {diff or 'none'}")


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="write the benchmark's tables")
    ap.add_argument("--data", help="directory for sf0.1, sf0.01 and orders.sqlite")
    ap.add_argument("--compare", metavar="FIXTURES",
                    help="write nothing; compare the tables with FIXTURES/sf0.1 "
                         "and FIXTURES/sf0.01 instead")
    args = ap.parse_args()
    if args.compare:
        compare(args.compare)
    elif args.data:
        for sf, name in SCALES:
            write_tables(os.path.join(args.data, name), sf)
        write_orders_sqlite(
            os.path.join(args.data, "orders.sqlite"),
            os.path.join(args.data, "sf0.1", "orders.parquet"),
        )
    else:
        ap.error("give --data or --compare")
