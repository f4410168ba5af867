#!/usr/bin/env python
"""Spark-vs-DuckDB throughput comparison at a given SF.

The reference (SQL2ALL) delegates queries to its source database over a
single connection — its throughput ceiling IS the single-node engine's.
DuckDB on the same machine is a *stronger* stand-in for that ceiling than
SQL2ALL's own pipeline (which adds 1-row Arrow batching on top), so
"Spark time ≤ c × DuckDB time" is a conservative reading of the
"matches-or-beats the reference at the same scale" target.

Usage: python tools/bench_vs_duckdb.py [--sf-dir DIR] [name ...]
Writes a markdown table to stdout; pass --out FILE to also save it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--out")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb

    from sql2all_spark import registry
    from sql2all_spark.session import cpu_count, get_spark
    from sql2all_spark.tables import TABLE_NAMES

    spark = get_spark("bench-vs-duckdb")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    specs = registry.all_specs()
    names = args.names or sorted(n for n in specs if specs[n].oracle)
    # warmup both engines
    specs["q1_pricing_summary"].builder(spark, args.sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    con.execute(specs["q1_pricing_summary"].oracle).fetchall()

    rows = []
    for name in names:
        spec = specs[name]
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        spec.builder(spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        spark_s = time.perf_counter() - t0
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        con.execute(spec.oracle).fetchall()
        duck_s = time.perf_counter() - t0
        rows.append((name, spark_s, duck_s))
        print(
            f"{name:32s} spark={spark_s:6.2f}s duckdb={duck_s:6.2f}s "
            f"ratio={spark_s / duck_s:5.2f}",
            file=sys.stderr,
        )

    total_spark = sum(r[1] for r in rows)
    total_duck = sum(r[2] for r in rows)
    lines = [
        f"# Spark vs DuckDB at {args.sf_dir} (local[{cpu_count()}])",
        "",
        "| query | spark_sec | duckdb_sec | ratio |",
        "|---|---|---|---|",
    ]
    for name, s, d in sorted(rows, key=lambda r: -(r[1] / r[2])):
        lines.append(f"| {name} | {s:.2f} | {d:.2f} | {s / d:.2f} |")
    lines.append(
        f"| **TOTAL** | **{total_spark:.2f}** | **{total_duck:.2f}** |"
        f" **{total_spark / total_duck:.2f}** |"
    )
    report = "\n".join(lines)
    print(report)
    if args.out:
        with open(args.out, "w") as f:
            f.write(report + "\n")


if __name__ == "__main__":
    main()
