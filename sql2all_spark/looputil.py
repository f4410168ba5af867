"""Bounded-state fast path and scale-adaptive shuffle width for
driver-loop operators.

Fast path first.  A loop whose state is bounded by vocabulary or edge
count, not corpus size, still pays Spark's per-job floor every round
(measured on 4 cores: ``text_bpe_train`` ran 28 jobs per call, with
1.1-4.0 s of driver gap against 0.3-0.5 s of executor CPU).
:func:`collect_if_bounded` counts the loop's checkpointed initial state
and, when the count is at or below ``LOCAL_LOOP_MAX_ROWS``, collects it
so the caller runs the whole loop on the driver in one pass (greedy
merge rounds in ``bpe_train``, union-find in ``graph.star_components``).  Below the gate
the loop mutates no session conf: :func:`loop_shuffle_partitions` is
never entered.  Above it the distributed loop runs unchanged — the only
path when the state does not fit one process.  The gate sits below both
measured crossovers (4 cores, synthetic vocabularies of 2-10 letter
words): 10 BPE rounds on the driver, collect and result frame included,
took 0.6-1.0 s at 10k words vs 2.5-4.5 s distributed, 2.8-3.1 s vs
3.5-5.5 s at 50k, and 5.4-5.7 s vs 3.5-4.0 s at 100k; union-find over
1M edges took 2.9 s.

The iterative operators (star contraction, BPE merge rounds, EM/prune
and codebook training loops) run many small Spark jobs over slim,
bounded frames.  Each round's shuffles start at the session-wide
``spark.sql.shuffle.partitions`` (2×cores by default) and rely on AQE to
coalesce — correct, but the per-round fixed cost (map-status tracking,
AQE re-planning over 64 shuffle blocks, task scheduling) dominates when
the frame is a few thousand rows: measured on a 4k-edge graph, 12 star
rounds cost 5.9s at 64 initial partitions vs 3.8s at 8, identical
results (OPTIMIZATION_r16.md).

:func:`loop_shuffle_partitions` derives the loop's INITIAL shuffle
width from the measured size of the loop's input instead (guide §2:
partitioning derived from input size, never a constant tuned for one
deployment), sets it for the duration of the loop, and restores the
session value afterwards:

    partitions = clamp(ceil(rows / LOOP_ROWS_PER_PARTITION), floor, session)

- ``LOOP_ROWS_PER_PARTITION`` is 4M slim rows (~64 MB of 16-byte
  edge rows — the guide §2.2 100 MB-1 GB band's low end, right for
  frames that are re-shuffled every round).
- The result is CAPPED at the session value: on a cluster where the
  input is genuinely large, the loop keeps the session's width and this
  is a no-op.  It only ever narrows small loops, never widens big ones.
- AQE is switched OFF for the loop when the input has at most
  ``LOOP_AQE_OFF_ROWS`` rows (one partition's worth): there is nothing
  to coalesce and no skew to split, and AQE would turn each round into
  several re-planning jobs.  Above that AQE stays on, coalescing below
  the initial width and splitting skew.

Both confs are session-global while set; every shipped runner (driver
gate, check.py, bench.py) builds and executes queries one at a time on
one thread, and the restore is in ``finally``.  Streaming jobs never
run inside these loops.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, Row

# Largest loop state (rows) run on the driver instead of as Spark rounds.
LOCAL_LOOP_MAX_ROWS = 50_000

LOOP_ROWS_PER_PARTITION = 4_000_000
LOOP_MIN_PARTITIONS = 8

# Below this measured input size the loop also runs with AQE OFF: AQE
# materializes every exchange as its own job to re-plan, which turns one
# logical round over a few-thousand-row frame into 4-6 scheduler round
# trips (measured: text_template_mining ran 64 jobs for ~10 star rounds,
# ~4 s of driver gaps against 1.5 s of executor work).  One partition's
# worth of rows is the natural cutoff: at or below it there is nothing
# for AQE to coalesce and no skew to split, above it (cluster-scale
# frames) AQE keeps its value and stays on.
LOOP_AQE_OFF_ROWS = LOOP_ROWS_PER_PARTITION


def collect_if_bounded(state: DataFrame) -> list[Row] | None:
    """``state``'s rows when it has at most ``LOCAL_LOOP_MAX_ROWS`` of
    them, else ``None``.  ``state`` must already be checkpointed: the
    count is then a block scan, where counting the uncheckpointed plan
    above the gate would recompute its whole input a second time."""
    if state.count() > LOCAL_LOOP_MAX_ROWS:
        return None
    return state.collect()


@contextmanager
def loop_shuffle_partitions(materialized: DataFrame) -> Iterator[int]:
    """Scope the session's shuffle width to one derived from
    ``materialized``'s row count (the frame must already be persisted or
    checkpointed — the count is then a cheap cached-block scan, not a
    recompute).  Yields the width chosen."""
    spark = materialized.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    session_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n_rows = materialized.count()
    derived = max(
        LOOP_MIN_PARTITIONS,
        -(-n_rows // LOOP_ROWS_PER_PARTITION),  # ceil div
    )
    parts = min(session_parts, derived)
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    if n_rows <= LOOP_AQE_OFF_ROWS:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield parts
    finally:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(session_parts)
        )
        spark.conf.set("spark.sql.adaptive.enabled", session_aqe)
