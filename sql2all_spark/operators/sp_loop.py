"""SentencePiece multi-round EM+prune training LOOP (VERDICT r14 #4).

Composes the EM round and the prune round (``operators/sp_unigram.py``)
into the alternating loop Kudo 2018 actually runs: seed vocabulary ->
[ E-step/M-step -> prune survivors -> Laplace-renormalize costs ] x N
-> final E-step/M-step -> surviving-vocabulary report.  The keep
schedule ``SP_LOOP_SCHEDULE`` shrinks the multi-char vocabulary toward
the same ``SP_KEEP`` target the single prune round uses, so the loop's
final round is directly comparable to ``text_sp_unigram_prune`` (and
strictly more converged: survivors must clear TWO prune cuts under
successively re-estimated costs).

DRIVER LOOP WITH LITERAL RE-ENTRY (the bpe_train / PQ-codebook / classifier
precedent): each round's piece costs are a BOUNDED collect
(<= survivors + alphabet rows — the PQ-codebook rule) that re-enters the
next round's Viterbi UDF as a closed-over dict literal, so every
round's Spark plan is IDENTICAL (pinned in tests) and lineage never
grows.  The corpus is touched ONCE across ALL rounds — the shared
persisted distinct-word table feeds every E-step; training cost stays a
function of vocabulary size, not corpus size (the property that makes
the loop viable at 100 TB: rounds add driver-side ledger reads and
vocabulary-sized UDF passes, never corpus scans).

The oracle unrolls the identical loop as ``len(SP_LOOP_SCHEDULE) + 1``
chained DP/EM blocks (tags '', '_p1', '_p2', … — ``_dp_em_ctes``'s
non-digit-tag rule) with the prune CTE block between consecutive
chains.  Pure SQL, no recursion.

Reference parity note: SQL2ALL has no tokenizer surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), completing bpe_mine -> bpe_train -> sp_em -> sp_prune
-> sp TRAIN LOOP.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.sp_core import (
    SP_KEEP,
    SP_TOP,
    _distinct_words,
    _dp_em_ctes,
    _em_round,
    _prune_ctes,
    _prune_round,
    _seed_ctes,
    _segment_em,
)
from sql2all_spark.registry import register

# Multi-char survivors kept per prune round — shrinking toward the
# single-prune SP_KEEP target (Kudo 2018 shrinks by a fixed factor per
# round; 40 -> 24 is the fixture-honest two-round schedule).
SP_LOOP_SCHEDULE = (40, SP_KEEP)


def _sp_loop_chain() -> tuple[str, str, str]:
    """The loop's WITH-chain BODY plus its terminal identifiers
    ``(blocks, tag, prev)``: the chained seed + DP/EM blocks with the
    prune CTEs between rounds, the final round's tag (``vc{tag}`` /
    ``final{tag}`` name it), and the final EM ledger CTE name.
    Exposed separately from :func:`_sp_loop_oracle` so downstream
    oracles (the ENCODE leg) can append their own tail CTEs instead of
    string-slicing the assembled SQL (ADVICE r15: a nested SELECT in
    the final projection would silently truncate a ``rindex`` slice)."""
    parts = [_seed_ctes(), _dp_em_ctes("")]
    prev = "em"
    tag = ""
    for i, keep in enumerate(SP_LOOP_SCHEDULE, start=1):
        tag = f"_p{i}"
        parts.append(_prune_ctes(prev, keep, tag))
        parts.append(_dp_em_ctes(tag))
        prev = f"em{tag}"
    return ",\n".join(parts), tag, prev


def _sp_loop_oracle() -> str:
    blocks, tag, prev = _sp_loop_chain()
    return f"""
WITH {blocks}
SELECT {prev}.piece, {prev}.em_count, {prev}.n_words,
       vc{tag}.cost AS final_cost,
       CAST(COALESCE(e1.em_count, 0) AS BIGINT) AS em1_count
FROM {prev} JOIN vc{tag} ON vc{tag}.piece = {prev}.piece
LEFT JOIN em e1 ON e1.piece = {prev}.piece
ORDER BY {prev}.em_count DESC NULLS LAST, {prev}.piece ASC NULLS FIRST
LIMIT {SP_TOP}
"""


# Session store for the converged loop artifacts, keyed on the
# realpath of the fixture dir (the clf_core._WEIGHTS_CACHE pattern,
# ADVICE r15): the training query and the ENCODE leg share the exact
# same EM+prune schedule, so whichever runs first in a session pays the
# multi-round loop (several bounded driver collects +
# len(SP_LOOP_SCHEDULE)+1 Viterbi UDF passes) ONCE; the second re-enters
# the final costs/em1 ledgers as literals and runs a single Viterbi
# pass over the rebuilt distinct-word table.  Values are byte-identical
# either way: the cache holds the exact collected cost integers, and
# the warm path recomputes the final E-step frame from the same (words,
# costs) inputs.  Fixture dirs are immutable in this harness; anyone
# regenerating one in-place must call clear_trained_cache().
_TRAINED_CACHE: dict[str, tuple[dict[str, int], dict[str, int]]] = {}


def clear_trained_cache() -> None:
    """Invalidate the session loop store (fixture regenerated in-place)."""
    _TRAINED_CACHE.clear()


def trained_costs(spark: SparkSession, sf_dir: str):
    """Run the full EM+prune schedule and return ``(words, vc_final,
    em_final, em1_map, costs_final)`` — the persisted distinct-word
    table, the final Laplace cost table (DataFrame), the final EM
    ledger frame (unexecuted lineage under the final costs), the
    round-1 EM counts, and the final cost dict.  Shared by the
    training report and the ENCODE leg so the loop has ONE
    definition (warm calls skip the loop via the session store)."""
    key = os.path.realpath(sf_dir)
    hit = _TRAINED_CACHE.get(key)
    if hit is not None:
        costs, em1_map = hit
        words = _distinct_words(spark, sf_dir)
        vc_cur = spark.createDataFrame(
            sorted(costs.items()), "piece string, cost long"
        )
        return words, vc_cur, _segment_em(words, costs), dict(em1_map), dict(costs)
    # COLD path (r17 restructure — VERDICT r16 #3): the loop's ~33 driver
    # jobs were the cost, not the math.  Three fixes, values identical:
    # (a) the whole train scope runs under loop_shuffle_partitions(words)
    #     — shuffle width derived from the measured word count, AQE off
    #     below one partition's worth of rows, so each bounded collect is
    #     ONE job instead of 3-6 AQE exchange materializations;
    # (b) the singles set reuses the seed cost dict _em_round already
    #     collected (was: a second vc.collect() job re-running the seed);
    # (c) the per-round Laplace cost table is built from the ALREADY-
    #     COLLECTED EM ledger (sp_core._prune_round, shared with the
    #     single prune round): ONE local single-stage job per round.
    from sql2all_spark.cache import materialize_tracked
    from sql2all_spark.looputil import loop_shuffle_partitions

    words = _distinct_words(spark, sf_dir)
    em1_map: dict[str, int] = {}
    costs: dict[str, int] = {}
    with loop_shuffle_partitions(words) as width:
        if width > 1:
            # The word table materializes as ONE cached partition (AQE
            # coalesces the word-count shuffle), so every Viterbi E-step
            # ran single-threaded.  Re-spread it ONCE to the loop width
            # (8-way here — deterministic round-robin, §2.5) so the
            # loop's 3 UDF passes and the seed explode run parallel.
            # This is NOT the r16-reverted 32-way scan spread: that one
            # multiplied the task count of ~33 AQE-planned jobs; here
            # the loop runs AQE-off at the derived width and the job
            # count is already fused (r17 #3), so the per-pass task
            # overhead is bounded by width, not cores.
            words = materialize_tracked(words.repartition(width))
        words, vc_cur, cur_em, costs0 = _em_round(spark, sf_dir, words=words)
        singles = sorted(p for p in costs0 if len(p) == 1)
        for rnd, keep in enumerate(SP_LOOP_SCHEDULE, start=1):
            em_map, vc_cur, costs = _prune_round(spark, cur_em, keep, singles)
            if rnd == 1:
                em1_map = em_map
            # costs re-enter the E-step as literals: identical plan per round
            cur_em = _segment_em(words, costs)
    _TRAINED_CACHE[key] = (dict(costs), dict(em1_map))
    return words, vc_cur, cur_em, em1_map, costs


@register(
    "text_sp_unigram_train",
    oracle=_sp_loop_oracle(),
    doc="SentencePiece unigram TRAINING LOOP (Kudo 2018's alternating"
    " EM / prune schedule, composing text_sp_unigram_em +"
    f" text_sp_unigram_prune): {len(SP_LOOP_SCHEDULE)} prune rounds with"
    f" keep schedule {SP_LOOP_SCHEDULE} (multi-char survivors; singles"
    " always stay — segmentability guarantee), Laplace(+1)-renormalized"
    " costs between rounds, a final E/M pass, and the converged"
    " vocabulary report with the round-1 EM count for comparison."
    "  Scale shape: the corpus is touched ONCE for the shared persisted"
    " word-count table; every round is a bounded driver-side ledger"
    " read + a shuffle-free vocabulary-sized Viterbi UDF pass whose"
    " costs re-enter as literals — per-round plans are IDENTICAL and"
    " lineage never grows (bpe_train precedent).",
)
def text_sp_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, vc_cur, cur_em, em1_map, _costs = trained_costs(spark, sf_dir)
    em1_df = spark.createDataFrame(
        sorted(em1_map.items()), "piece string, em1_count long"
    )
    return (
        cur_em.join(F.broadcast(vc_cur), "piece")
        .join(F.broadcast(em1_df), "piece", "left")
        .select(
            "piece",
            "em_count",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("cost").alias("final_cost"),
            F.coalesce(F.col("em1_count"), F.lit(0))
            .cast("long")
            .alias("em1_count"),
        )
        .orderBy(
            F.col("em_count").desc_nulls_last(),
            F.col("piece").asc_nulls_first(),
        )
        .limit(SP_TOP)
    )
