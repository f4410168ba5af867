"""The FIXTURES.md §A ``payment`` table as a SQLite file, from a seed.

Standard library only, so the runner can write it before its own timed
set-up without importing numpy or pandas first.
"""

from __future__ import annotations

import os
import random
import sqlite3


def write_payment_sqlite(path: str, seed: int, rows: int = 1000) -> None:
    """customer_id in [1, 1000), amount in [10, 1000), account_name
    ``Account k`` (k in [1, 100)) or NULL at p=0.5."""
    rng = random.Random(seed)
    data = [
        (
            rng.randrange(1, 1000),
            rng.randrange(10, 1000),
            f"Account {rng.randrange(1, 100)}" if rng.random() < 0.5 else None,
        )
        for _ in range(rows)
    ]
    write_sqlite(
        path,
        "CREATE TABLE payment (customer_id INTEGER NOT NULL, "
        "amount INTEGER NOT NULL, account_name TEXT)",
        "INSERT INTO payment VALUES (?, ?, ?)",
        data,
    )


def write_sqlite(path, ddl, insert, rows) -> None:
    """A fresh SQLite file holding one table."""
    if os.path.exists(path):
        os.remove(path)
    conn = sqlite3.connect(path)
    try:
        conn.execute(ddl)
        conn.executemany(insert, rows)
        conn.commit()
    finally:
        conn.close()
