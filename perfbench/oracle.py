"""Output checks: every registry op against its DuckDB oracle, every export
against DuckDB (or SQLite) running the same SQL on the source.

Oracle results are cached as canonical rows under the work directory,
keyed by the oracle text and the identity of the generated data, so only
the first run on a dataset pays for the oracles.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sqlite3

import numpy as np

CANON_VERSION = 1


def cell(v) -> str:
    """Stable string form of one value (order-insensitive comparison); the
    same rules as the repository's oracle gate."""
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(df) -> tuple[list[str], list[list[str]]]:
    """(sorted column names, sorted rows of canonical cells)."""
    cols = sorted(df.columns)
    columns = [[cell(v) for v in df[c].tolist()] for c in cols]
    rows = sorted(list(r) for r in zip(*columns)) if cols else []
    return cols, rows


class Oracles:
    """DuckDB over generated parquet files (``views``: view name -> file),
    with a result cache keyed by SQL text and ``data_key``."""

    def __init__(self, views: dict[str, str], data_key: str, cache_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.data_key = data_key
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        for name, path in sorted(views.items()):
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self.con.close()

    def _cached(self, sql: str, compute):
        key = hashlib.md5(
            f"{sql}\n@{self.data_key}\n#canon-v{CANON_VERSION}".encode()
        ).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute(sql)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def rows(self, sql: str) -> dict:
        def compute(q):
            cols, rows = canonical(self.con.execute(q).fetchdf())
            return {"cols": cols, "rows": rows}

        return self._cached(sql, compute)

    def profile(self, sql: str) -> dict:
        """Row count and per-column aggregates of ``sql``'s result."""

        def compute(q):
            kinds = [(r[0], r[1]) for r in self.con.execute(f"DESCRIBE ({q})").fetchall()]
            agg = profile_sql(kinds, f"({q})")
            row = self.con.execute(agg).fetchone()
            return {"kinds": kinds, "values": [_num(v) for v in row]}

        return self._cached(sql, compute)


_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "FLOAT",
            "DOUBLE", "DECIMAL")


def profile_sql(kinds, relation: str) -> str:
    """``SELECT count(*), count(c), sum(c) | sum(length(c)) ...`` over
    ``relation``.  Numbers sum as DOUBLE, strings by length, other types
    count only: every reader (csv inference, json) keeps those comparable."""
    parts = ["count(*)"]
    for name, kind in kinds:
        col = f'"{name}"'
        parts.append(f"count({col})")
        if kind.upper().startswith(_NUMERIC):
            parts.append(f"sum(CAST({col} AS DOUBLE))")
        elif kind.upper() == "VARCHAR":
            parts.append(f"sum(length({col}))")
    return f"SELECT {', '.join(parts)} FROM {relation}"


def spark_profile_sql(kinds, view: str) -> str:
    """The same aggregates in Spark SQL (backquoted names)."""
    return profile_sql(kinds, view).replace('"', "`")


def _num(v):
    return None if v is None else float(v)


def same_profile(got, want, rel=1e-9) -> str | None:
    """None when equal (sums within ``rel``), else a short description."""
    if len(got) != len(want):
        return f"profile width {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if a is None or b is None:
            if a != b:
                return f"agg #{i}: {a} != {b}"
        elif not math.isclose(a, b, rel_tol=rel, abs_tol=1e-6):
            return f"agg #{i}: {a!r} != {b!r}"
    return None


def sqlite_profile(path: str, sql: str, kinds) -> dict:
    """:meth:`Oracles.profile` computed by SQLite itself (the source
    engine); ``kinds`` are given in DuckDB type names."""
    conn = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        row = conn.execute(profile_sql(kinds, f"({sql})")).fetchone()
    finally:
        conn.close()
    return {"kinds": kinds, "values": [_num(v) for v in row]}


def compare_rows(got_df, want: dict) -> str | None:
    cols, rows = canonical(got_df)
    if cols != want["cols"]:
        return f"columns {cols} != {want['cols']}"
    if len(rows) != len(want["rows"]):
        return f"rows {len(rows)} != {len(want['rows'])}"
    if rows != want["rows"]:
        bad = next(i for i, (a, b) in enumerate(zip(rows, want["rows"])) if a != b)
        return f"value mismatch at sorted row {bad}"
    return None
