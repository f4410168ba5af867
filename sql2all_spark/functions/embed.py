"""Cross-engine embedding arithmetic shared by the similarity operators.

Dot products fold left-to-right over double-cast elements — the same
accumulation order in Spark (`F.aggregate`) and DuckDB (`list_reduce`), so
cosines agree bit-for-bit before the 6dp presentation rounding.  The LSH
hyperplanes use INTEGER components from a fixed seed: integer×double
products keep the two engines' dot products identical, where float literals
would need exact decimal→binary agreement in two SQL parsers.

Shared by ``operators/similarity.py``, ``operators/embed_screen.py`` and
the other embedding operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# 6 sign bits → 64 buckets: sized so test-SF buckets are non-empty (~8
# vectors per bucket at sf0.01).  At 100 TB you raise bits until bucket size
# fits one task's memory — the plan shape is unchanged.
N_PLANES = 6
DIM = 64
HYPERPLANES: list[list[int]] = (
    np.random.RandomState(42).randint(-9, 10, size=(N_PLANES, DIM)).tolist()
)


def dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM} + 1),"
        f" i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_sql(a: str, b: str) -> str:
    return f"{dot_sql(a, b)} / (SQRT({dot_sql(a, a)}) * SQRT({dot_sql(b, b)}))"


def sign_bucket(emb: Column) -> Column:
    """Hyperplane-sign signature as a string like '0110...'."""
    bits = [
        F.when(
            dot(emb, F.array(*[F.lit(float(w)) for w in plane])) >= 0, "1"
        ).otherwise("0")
        for plane in HYPERPLANES
    ]
    return F.concat(*bits)


def sign_bucket_sql(emb: str) -> str:
    bits = []
    for plane in HYPERPLANES:
        lit = "[" + ",".join(f"{w}.0" for w in plane) + "]"
        bits.append(
            f"CASE WHEN {dot_sql(emb, f'CAST({lit} AS DOUBLE[])')} >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


# --- extended signature for corpus-size-adaptive near-dup banding ---------
#
# The shared 6-bit signature gives 2 bands x 3 bits: fine while buckets fit
# a task, but a FIXED band scheme lets bucket occupancy grow linearly with
# the corpus, so the block-local O(n_b^2) candidate space grows
# quadratically (measured: sim_neardup_pairs went 3.3s -> 84s on the 10x
# sf1 soak).  Fix: 12 planes laid out as two 6-bit REGIONS whose first 3
# bits are exactly the old band bits, plus an adaptive bits-per-band that
# grows with corpus size — at n <= NEARDUP_REF the band keys are
# bit-identical to the historical 3-bit scheme (committed artifacts stay
# valid), and every doubling beyond adds a bit until the region is
# exhausted, holding expected bucket occupancy ~constant.  Scaling further
# is adding planes, not reshaping the plan.
_EXTRA_PLANES: list[list[int]] = (
    np.random.RandomState(4242).randint(-9, 10, size=(N_PLANES, DIM)).tolist()
)
NEARDUP_REGION = 6  # bits per band region in the extended signature
NEARDUP_PLANES: list[list[int]] = (
    HYPERPLANES[0:3] + _EXTRA_PLANES[0:3] + HYPERPLANES[3:6] + _EXTRA_PLANES[3:6]
)
NEARDUP_REF = 2000  # corpus size at which the base 3-bit scheme saturates
NEARDUP_BASE_PPB = 3
NEARDUP_MAX_PPB = NEARDUP_REGION


def neardup_ppb(n: int) -> int:
    """Bits per band for a corpus of ``n`` vectors.

    Pure integer logic (no float log2 — its ceil is engine-dependent at
    exact powers of two): the smallest k with n <= NEARDUP_REF * 2**k,
    capped at the region width.  Mirrored exactly by
    :func:`neardup_ppb_sql`.
    """
    extra = next((k for k in range(9) if n <= NEARDUP_REF * (1 << k)), 8)
    return min(NEARDUP_MAX_PPB, NEARDUP_BASE_PPB + extra)


def neardup_ppb_col(n_vec: str = "n_vec") -> Column:
    """Lazy Spark twin of :func:`neardup_ppb` over a count COLUMN.

    Same pure integer logic (smallest k in [0, 8] with n <= REF * 2**k,
    else 8; capped at the region width), expressed over a 1-row count
    aggregate so building the plan stays action-free (ADVICE r7:
    ``e.count()`` at build time made plan-only consumers pay a job and
    froze ppb at build time rather than execution time)."""
    return F.expr(
        f"least({NEARDUP_MAX_PPB}, {NEARDUP_BASE_PPB} + coalesce("
        f"  array_min(filter("
        f"    transform(sequence(0, 8), k -> CASE WHEN {n_vec} <="
        f"      {NEARDUP_REF} * shiftleft(CAST(1 AS BIGINT), k)"
        f"      THEN k END),"
        f"    x -> x IS NOT NULL)), 8))"
    )


def neardup_ppb_sql(table: str = "embeddings") -> str:
    """DuckDB scalar twin of :func:`neardup_ppb` over ``table``'s count."""
    return f"""
  SELECT LEAST({NEARDUP_MAX_PPB},
               {NEARDUP_BASE_PPB} + COALESCE(MIN(k), 8)) AS ppb
  FROM (SELECT COUNT(*) AS n FROM {table}) nn,
       (SELECT UNNEST(range(0, 9)) AS k) ks
  WHERE nn.n <= {NEARDUP_REF} * (CAST(1 AS BIGINT) << k)
"""


def neardup_bucket(emb: Column) -> Column:
    """12-bit extended hyperplane-sign signature (see NEARDUP_PLANES)."""
    bits = [
        F.when(
            dot(emb, F.array(*[F.lit(float(w)) for w in plane])) >= 0, "1"
        ).otherwise("0")
        for plane in NEARDUP_PLANES
    ]
    return F.concat(*bits)


def neardup_bucket_sql(emb: str) -> str:
    bits = []
    for plane in NEARDUP_PLANES:
        lit = "[" + ",".join(f"{w}.0" for w in plane) + "]"
        bits.append(
            f"CASE WHEN {dot_sql(emb, f'CAST({lit} AS DOUBLE[])')} >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)
