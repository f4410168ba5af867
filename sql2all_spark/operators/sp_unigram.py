"""SentencePiece-style unigram-LM tokenizer: seed vocabulary + ONE hard-EM
round (Kudo 2018, "Subword Regularization"; the unigram counterpart of
``operators/bpe_train.py``'s merge loop).

Semantics (both engines, bit-identical):

1. **Word counts** — whitespace words (length <= ``SP_WORD_MAX``) with
   corpus frequencies; the EM round runs over DISTINCT words weighted by
   count — the SentencePiece trick that makes training cost a function of
   vocabulary size, not corpus size.
2. **Seed pieces** — every substring of length 1..``SP_PIECE_MAX`` of each
   distinct word, seed frequency = count-weighted occurrence sum.  The
   vocabulary keeps the top-``SP_VOCAB`` pieces by (freq DESC, piece ASC)
   UNION all single characters — singles guarantee every word segments
   (OOV characters are impossible: singles derive from the same words).
3. **Piece costs** — fixed-point BIGINTs ``FLOOR(1e6 * -ln(f/total) + 0.5)``
   over the selected vocabulary (the ``functions/ngram_lm.py``
   discipline), so path costs are exact integer sums in both engines.
4. **E-step (Viterbi)** — per distinct word, the segmentation minimising
   ``(total_cost, seg_string)``; the segmentation string carries a
   trailing ``0x7f`` separator after every piece, which sorts ABOVE all
   ASCII word characters, so the lexicographic tie-break prefers fewer /
   longer pieces (SentencePiece's longest-match intuition).  ASCII
   RESTRICTION (ADVICE r13): for words containing code points > U+007F
   the separator no longer sorts above every character, so the
   documented fewer-pieces preference silently flips on those ties —
   ENGINE PARITY IS UNAFFECTED (both engines compare the identical
   (cost, seg) key), but a non-ASCII fixture would need a separator
   above all expected code points (e.g. U+10FFFF) to keep the
   longest-match semantics.  The current fixtures are ASCII-only
   (tools/gen_scale.py word lists).  The key has
   optimal substructure: costs are additive, and two distinct partial
   segmentations of the same prefix can never be string-prefixes of each
   other (both contain exactly the same word characters; a prefix
   relation would force two consecutive separators), so the first
   differing byte is decided inside the shorter partial — Viterbi's
   exchange argument goes through for the pair.
5. **M-step** — count-weighted piece occurrences over the Viterbi
   segmentations: ``em_count = SUM(word_count * uses_in_word)`` plus the
   number of distinct words using each piece; top-``SP_TOP`` by
   (em_count DESC, piece ASC).

Scale shape: the corpus is touched ONCE (word counts — a slim
partial-aggregated (word, count) exchange); everything downstream runs
over the BOUNDED distinct-word and piece tables.  The E-step is an
Arrow-batched pandas UDF over distinct words with the piece-cost table
collected to the driver (<= ``SP_VOCAB`` + alphabet rows — the PQ
codebook precedent for bounded collects); per-word DP is row-local, so
the UDF stage is embarrassingly parallel and shuffle-free.  The oracle
unrolls the same DP as ``SP_WORD_MAX`` chained SQL CTEs (one per word
position, best-per-word via ROW_NUMBER) — pure SQL, no recursion, no
Python on the DuckDB side.

Reference parity note: SQL2ALL has no tokenizer surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); this belongs to the
LLM-pipeline extension family (SURVEY.md §2), sibling of
``text_bpe_train``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.sp_core import (  # noqa: F401 (re-exports:
    # tests and the loop operator import these names from here)
    SP_KEEP,
    SP_PIECE_MAX,
    SP_TOP,
    SP_VOCAB,
    SP_WORD_MAX,
    _SEP,
    _dp_em_ctes,
    _em_round,
    _prune_ctes,
    _prune_round,
    _seed_ctes,
    _segment_em,
    _viterbi_series,
)
from sql2all_spark.registry import register

def _sp_oracle() -> str:
    """Round-1 oracle: seed chain + DP/EM chain + top-SP_TOP select."""
    return f"""
WITH {_seed_ctes()},
{_dp_em_ctes("")}
SELECT em.piece, em.em_count, em.n_words, vc.cost AS seed_cost
FROM em JOIN vc ON vc.piece = em.piece
ORDER BY em.em_count DESC NULLS LAST, em.piece ASC NULLS FIRST
LIMIT {SP_TOP}
"""


def _sp_prune_oracle() -> str:
    """Round-2 (prune) oracle: the round-1 chain, then the prune block
    (top ``SP_KEEP`` pieces by EM count plus all single characters,
    Laplace-renormalized costs ``vc_p``), a SECOND identical DP/EM chain
    under the new costs, and the surviving-vocabulary report."""
    return f"""
WITH {_seed_ctes()},
{_dp_em_ctes("")},
{_prune_ctes("em", SP_KEEP, "_p")},
{_dp_em_ctes("_p")}
SELECT em_p.piece, em_p.em_count, em_p.n_words, vc_p.cost AS prune_cost,
       CAST(COALESCE(e1.em_count, 0) AS BIGINT) AS em1_count
FROM em_p JOIN vc_p ON vc_p.piece = em_p.piece
LEFT JOIN em e1 ON e1.piece = em_p.piece
ORDER BY em_p.em_count DESC NULLS LAST, em_p.piece ASC NULLS FIRST
LIMIT {SP_TOP}
"""


@register(
    "text_sp_unigram_em",
    oracle=_sp_oracle(),
    doc=f"SentencePiece-style unigram tokenizer EM round (Kudo 2018):"
    f" substring seed vocabulary (top-{SP_VOCAB} by count-weighted"
    " frequency + all single characters), fixed-point piece costs, one"
    " hard-EM round — Viterbi segmentation of every distinct word"
    " (deterministic (cost, seg) key; the 0x7f separator makes the"
    " tie-break prefer fewer pieces), then count-weighted M-step piece"
    f" counts; top-{SP_TOP} pieces out.  Scale shape: ONE slim corpus"
    " exchange (word counts); the E-step is an Arrow-batched pandas UDF"
    " over DISTINCT words with the bounded piece-cost table closed over"
    " from the driver (PQ-codebook precedent) — row-local, shuffle-free;"
    " the oracle unrolls the identical DP as chained SQL CTEs.",
)
def text_sp_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Seed-chain collect under the derived loop width (r17, see
    # text_sp_unigram_prune) — the report frame runs at session width.
    from sql2all_spark.functions.sp_core import _distinct_words
    from sql2all_spark.looputil import loop_shuffle_partitions

    words = _distinct_words(spark, sf_dir)
    with loop_shuffle_partitions(words):
        words, vc, em, _costs = _em_round(spark, sf_dir, words=words)
    return (
        em.join(F.broadcast(vc), "piece")
        .select(
            "piece",
            "em_count",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("cost").alias("seed_cost"),
        )
        .orderBy(
            F.col("em_count").desc_nulls_last(),
            F.col("piece").asc_nulls_first(),
        )
        .limit(SP_TOP)
    )


@register(
    "text_sp_unigram_prune",
    oracle=_sp_prune_oracle(),
    doc="SentencePiece unigram PRUNE round (Kudo 2018 step 3, the"
    f" vocabulary-shrink loop body): after the EM round, keep the top"
    f" {SP_KEEP} pieces by EM count (EM count proxies each piece's"
    " likelihood contribution under hard EM) plus ALL single characters"
    " (segmentability guarantee), renormalize piece costs over the"
    " survivors' EM counts with Laplace (+1) smoothing — unused singles"
    " have EM count 0 and -ln(0) is undefined — then re-run the"
    " identical Viterbi E-step + M-step under the new costs and report"
    " the surviving vocabulary: round-2 EM counts, word usage, the"
    " renormalized cost, and the round-1 EM count for comparison."
    "  Scale shape unchanged from the EM round: the corpus was already"
    " touched ONCE (the shared persisted word-count table); the prune"
    " decision reads the BOUNDED round-1 EM ledger driver-side"
    " (<= vocab-size rows, the codebook precedent), and round 2 is a"
    " second shuffle-free UDF pass over distinct words — training cost"
    " stays a function of vocabulary size, not corpus size.  The oracle"
    " runs the unrolled DP chain TWICE (tags '' and '_p' — a bare digit"
    " would collide with round 1's dp12, see _dp_em_ctes) with the prune"
    " CTEs between.",
)
def text_sp_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The bounded-collect rounds run under a shuffle width derived from
    # the measured word count, AQE off below one partition's worth
    # (r17, the sp_loop pattern: each collect is ONE job instead of
    # several AQE exchange-materialization jobs; no-op at cluster
    # scale).  The returned report frame executes OUTSIDE the scope at
    # the session width.
    from sql2all_spark.functions.sp_core import _distinct_words
    from sql2all_spark.looputil import loop_shuffle_partitions

    words = _distinct_words(spark, sf_dir)
    with loop_shuffle_partitions(words):
        words, _vc, em, costs = _em_round(spark, sf_dir, words=words)
        # the always-kept single characters come from the seed cost dict
        # _em_round already collected (r17: one collect job instead of two)
        singles = {p for p in costs if len(p) == 1}
        em1, vc2, costs2 = _prune_round(spark, em, SP_KEEP, singles)
    em2 = _segment_em(words, costs2)
    em1_df = spark.createDataFrame(
        sorted(em1.items()), "piece string, em1_count long"
    )
    return (
        em2.join(F.broadcast(vc2), "piece")
        .join(F.broadcast(em1_df), "piece", "left")
        .select(
            "piece",
            "em_count",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("cost").alias("prune_cost"),
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
