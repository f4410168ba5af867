"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given SF, then compares row count, column-name set, and an
order-insensitive value comparison.  Stricter than the driver on floats: it
reports the max absolute mismatch so near-misses are visible before they
become hash failures.

Usage:  python tools/check.py [--sf-dir /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Version of the canonicalization rules below (normalize_cell + frame_rows).
# BUMP THIS whenever either function's output can change for any input —
# it salts the oracle-result cache key, so stale cached canonical rows are
# never compared against freshly-normalized Spark rows (ADVICE r10).
CANON_VERSION = 1


def normalize_cell(v):
    """Stable string form of one cell for order-insensitive comparison."""
    import datetime

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(normalize_cell(r[c]) for c in cols)
        for _, r in df[cols].iterrows()
    ]
    return sorted(rows)


def run_one(spark, con, name, builder, oracle, sf_dir, cache_dir=None) -> dict:
    t0 = time.time()
    sdf = builder(spark, sf_dir).toPandas()
    spark_sec = time.time() - t0
    out = {
        "name": name,
        "spark_rows": len(sdf),
        "spark_sec": round(spark_sec, 2),
        "method": "live",
    }
    if oracle is None:
        out["status"] = "ROWS_ONLY"
        return out
    cached = None
    cache_path = None
    if cache_dir is not None:
        # Key on the ORACLE TEXT + data location: the Spark side always
        # runs live, so a cached oracle result stays valid as long as
        # neither the oracle SQL nor the (immutable) sf_dir changed —
        # exactly the reuse VERDICT r8 asked for on the 45-55 min
        # recursive-CTE soak oracles.  The cache stores the CANONICAL
        # comparison form (sorted cols + frame_rows output), not a raw
        # DataFrame: a parquet round-trip can change dtypes (Decimal/
        # hugeint/timestamp) relative to a live fetchdf and make a cache
        # hit compare differently from a live run (ADVICE r9).
        import hashlib
        import json as _json
        import os

        os.makedirs(cache_dir, exist_ok=True)
        key = hashlib.md5(
            (
                oracle
                + "\n@" + os.path.abspath(sf_dir)
                + f"\n#canon-v{CANON_VERSION}"
            ).encode()
        ).hexdigest()
        cache_path = os.path.join(cache_dir, f"{key}.rows.json")
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                cached = _json.load(f)
            out["method"] = "live-spark/oracle-cached"
    if cached is None:
        ddf = con.execute(oracle).fetchdf()
        d_cols, d_rows = sorted(ddf.columns), frame_rows(ddf)
        if cache_path is not None:
            import json as _json

            tmp = cache_path + ".tmp"
            with open(tmp, "w") as f:
                _json.dump({"cols": d_cols, "rows": d_rows}, f)
            os.replace(tmp, cache_path)
    else:
        d_cols = list(cached["cols"])
        d_rows = [tuple(r) for r in cached["rows"]]
    out["oracle_rows"] = len(d_rows)
    s_cols = sorted(sdf.columns)
    if s_cols != d_cols:
        out["status"] = "SCHEMA_MISMATCH"
        out["spark_cols"], out["oracle_cols"] = s_cols, d_cols
        return out
    if len(sdf) != len(d_rows):
        out["status"] = "ROWCOUNT_MISMATCH"
        return out
    s_rows = frame_rows(sdf)
    if s_rows == d_rows:
        out["status"] = "OK"
    else:
        out["status"] = "VALUE_MISMATCH"
        diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
        out["n_diff_rows"] = len(diffs)
        out["first_diff"] = diffs[0] if diffs else None
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json-out",
        help="also write the per-query results as a JSON artifact "
        "(the round's committed full-coverage record, e.g. "
        "CHECK_FULL_r3.json)",
    )
    ap.add_argument(
        "--oracle-cache",
        default=None,
        help="directory for cached DuckDB oracle RESULTS keyed by "
        "md5(oracle_sql + sf_dir).  The Spark side always runs live; a "
        "hit skips only the oracle execution and stamps the entry "
        "method: live-spark/oracle-cached.  Use for sf1 soaks where "
        "single oracles cost minutes.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as e
    from sql2all_spark.session import get_spark
    from sql2all_spark.tables import TABLE_NAMES

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    names = args.names or list(qs)
    failures = 0
    results = []
    for name in names:
        if name not in qs:
            print(f"{name}: UNKNOWN")
            failures += 1
            continue
        try:
            res = run_one(
                spark, con, name, qs[name], oracles.get(name), args.sf_dir,
                cache_dir=args.oracle_cache,
            )
        except Exception as exc:  # surface which side blew up
            res = {"name": name, "status": "ERROR", "error": f"{type(exc).__name__}: {exc}"}
        ok = res["status"] in ("OK", "ROWS_ONLY")
        failures += 0 if ok else 1
        results.append(res)
        print(res)
        # Builders persist slim intermediates (signature tables, revenue
        # aggs); across a 130-query run at sf1 the cached blocks exhaust
        # the single local-mode JVM heap and broadcast builds start
        # failing.  bench.py already clears between queries; mirror it.
        spark.catalog.clearCache()
    print(f"\n{len(names) - failures}/{len(names)} passed")
    if args.json_out:
        import json

        from collections import Counter

        with open(args.json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": args.sf_dir,
                    "n_queries": len(names),
                    "n_passed": len(names) - failures,
                    # cache provenance (VERDICT r14 #7): which dir served
                    # oracle results and the live/cached method split —
                    # the per-entry "method" fields carry the detail
                    "oracle_cache_dir": args.oracle_cache,
                    "methods": dict(
                        Counter(r.get("method", "error") for r in results)
                    ),
                    "results": {r["name"]: r for r in results},
                },
                f,
                indent=1,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
