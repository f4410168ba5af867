"""SentencePiece-style unigram-LM tokenizer training (Kudo 2018,
"Subword Regularization"; the unigram counterpart of
``operators/bpe_train.py``'s merge loop): seed vocabulary, hard-EM
rounds and vocabulary prunes, all from ONE trainer.

Semantics (both engines, bit-identical):

1. **Word counts** — whitespace words (length <= ``SP_WORD_MAX``) with
   corpus frequencies; the EM rounds run over DISTINCT words weighted by
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
   RESTRICTION: for words containing code points > U+007F the separator
   no longer sorts above every character, so the documented
   fewer-pieces preference silently flips on those ties — ENGINE PARITY
   IS UNAFFECTED (both engines compare the identical (cost, seg) key),
   but a non-ASCII fixture would need a separator above all expected
   code points (e.g. U+10FFFF) to keep the longest-match semantics.  The
   current fixtures are ASCII-only (tools/gen_scale.py word lists).  The
   key has optimal substructure: costs are additive, and two distinct
   partial segmentations of the same prefix can never be string-prefixes
   of each other (both contain exactly the same word characters; a
   prefix relation would force two consecutive separators), so the first
   differing byte is decided inside the shorter partial — Viterbi's
   exchange argument goes through for the pair.
5. **M-step** — count-weighted piece occurrences over the Viterbi
   segmentations: ``em_count = SUM(word_count * uses_in_word)`` plus the
   number of distinct words using each piece.
6. **Prune** — keep the top-``keep`` pieces by (em_count DESC, piece ASC)
   plus ALL single characters, Laplace(+1)-renormalize their costs over
   the survivors' EM counts, and run the next E/M step under them.

One keep SCHEDULE drives :func:`trained_costs`, the only loop:
``text_sp_unigram_em`` is ``()`` (round 1 only), ``text_sp_unigram_prune``
is ``(SP_KEEP,)`` and ``text_sp_unigram_train`` is ``SP_LOOP_SCHEDULE``
(two prunes shrinking toward the same ``SP_KEEP`` target).  Each report
is the final round's top-``SP_TOP`` pieces by (em_count DESC, piece ASC).

Scale shape: the corpus is touched ONCE (word counts — a slim
partial-aggregated (word, count) exchange); everything downstream runs
over the BOUNDED distinct-word and piece tables.  The E-step is an
Arrow-batched pandas UDF over distinct words with the piece-cost table
collected to the driver (<= survivors + alphabet rows — the PQ codebook
precedent for bounded collects); per-word DP is row-local, so the UDF
stage is embarrassingly parallel and shuffle-free.  Each round's costs
re-enter the next Viterbi UDF as a closed-over dict literal, so every
round's Spark plan is IDENTICAL (pinned in tests) and lineage never
grows.  The oracle unrolls the same DP as ``SP_WORD_MAX`` chained SQL
CTEs (one per word position, best-per-word via ROW_NUMBER), once per
round with the prune CTEs between — pure SQL, no recursion, no Python on
the DuckDB side.

Reference parity note: SQL2ALL has no tokenizer surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); this belongs to the
LLM-pipeline extension family (SURVEY.md §2), sibling of
``text_bpe_train``.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sql2all_spark.cache import persist_tracked
from sql2all_spark.looputil import loop_shuffle_partitions
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

SP_PIECE_MAX = 4  # max piece length (seed substrings)
SP_WORD_MAX = 12  # words longer than this skip the EM rounds (both engines)
SP_VOCAB = 64  # seed vocabulary cut (singles always added back)
SP_KEEP = 24  # prune target: multi-char survivors by EM count (singles stay)
SP_TOP = 50  # output rows
SP_SCALE = 1_000_000  # fixed-point -ln p scale (ngram_lm discipline)
_SEP = "\x7f"  # sorts above every ASCII word char -> fewer-pieces tie-break
# (ASCII-only guarantee — see module docstring step 4; parity holds
# regardless since both engines compare the identical key)

# Multi-char survivors kept per prune round of the training loop —
# shrinking toward the single-prune SP_KEEP target (Kudo 2018 shrinks by
# a fixed factor per round; 40 -> 24 is the fixture-honest two-round
# schedule).
SP_LOOP_SCHEDULE = (40, SP_KEEP)


def _viterbi_series(words: pd.Series, costs: dict[str, int]) -> pd.Series:
    """Per-word Viterbi under integer piece costs; key = (cost, seg)."""

    def seg_one(word: str) -> str:
        best: list[tuple[int, str] | None] = [(0, "")] + [None] * len(word)
        for i in range(1, len(word) + 1):
            cand = None
            for j in range(max(0, i - SP_PIECE_MAX), i):
                prev = best[j]
                if prev is None:
                    continue
                piece = word[j:i]
                c = costs.get(piece)
                if c is None:
                    continue
                k = (prev[0] + c, prev[1] + piece + _SEP)
                if cand is None or k < cand:
                    cand = k
            best[i] = cand
        final = best[len(word)]
        # singles from the same words make every word segmentable
        assert final is not None, word
        return final[1]

    return words.map(seg_one)


def _dp_em_ctes(tag: str) -> str:
    """The unrolled Viterbi DP + M-step CTE block, parametrized by
    ``tag`` so the oracle can run the chain once per round: ``dp0{tag}`` …
    ``dp{SP_WORD_MAX}{tag}``, ``final{tag}``, ``wp{tag}``, ``em{tag}``
    over the cost table ``vc{tag}`` and the shared ``words``.  One CTE
    per word position (best-per-word via ROW_NUMBER) — pure SQL, no
    recursion.  Round 1 uses tag '', later rounds '_p1', '_p2', … (a
    bare digit would collide: dp1 + '2' = dp12 = round 1's last CTE)."""
    dps = [
        f"dp0{tag} AS (SELECT word, CAST(0 AS BIGINT) AS cost,"
        f" '' AS seg FROM words)"
    ]
    for i in range(1, SP_WORD_MAX + 1):
        branches = []
        for j in range(max(0, i - SP_PIECE_MAX), i):
            branches.append(f"""
      SELECT d.word,
             d.cost + v.cost AS cost,
             d.seg || v.piece || chr(127) AS seg
      FROM dp{j}{tag} d JOIN vc{tag} v ON v.piece = substr(d.word, {j + 1}, {i - j})
      WHERE LENGTH(d.word) >= {i}""")
        union = "\n      UNION ALL".join(branches)
        # MATERIALIZED: each dp CTE is referenced by up to SP_PIECE_MAX
        # later CTEs — default inlining would expand the chain
        # exponentially (4^12 scans of documents -> "too many open files")
        dps.append(f"""dp{i}{tag} AS MATERIALIZED (
  SELECT word, cost, seg FROM (
    SELECT word, cost, seg,
           ROW_NUMBER() OVER (PARTITION BY word
                              ORDER BY cost ASC, seg ASC) AS rn
    FROM ({union})
  ) WHERE rn = 1
)""")
    finals = "\n  UNION ALL ".join(
        f"SELECT word, seg FROM dp{i}{tag} WHERE LENGTH(word) = {i}"
        for i in range(1, SP_WORD_MAX + 1)
    )
    dp_ctes = ",\n".join(dps)
    return f"""{dp_ctes},
final{tag} AS (
  {finals}
),
wp{tag} AS (
  SELECT word, piece, CAST(COUNT(*) AS BIGINT) AS k
  FROM (SELECT word, UNNEST(string_split(seg, chr(127))) AS piece FROM final{tag})
  WHERE piece <> ''
  GROUP BY word, piece
),
em{tag} AS (
  SELECT piece,
         CAST(SUM(k * c) AS BIGINT) AS em_count,
         CAST(COUNT(*) AS BIGINT) AS n_words
  FROM wp{tag} JOIN words USING (word)
  GROUP BY piece
)"""


def _seed_ctes() -> str:
    """Round-1 seed chain: words → pieces → vocab → vc."""
    return f"""words AS MATERIALIZED (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' AND LENGTH(w) <= {SP_WORD_MAX}
  GROUP BY w
),
pieces AS (
  SELECT substr(word, CAST(i AS INT), CAST(L AS INT)) AS piece,
         CAST(SUM(c) AS BIGINT) AS f
  FROM words,
       UNNEST(range(1, LENGTH(word) + 1)) t1(i),
       UNNEST(range(1, {SP_PIECE_MAX + 1})) t2(L)
  WHERE CAST(i AS INT) + CAST(L AS INT) - 1 <= LENGTH(word)
  GROUP BY 1
),
vocab AS (
  SELECT piece, f FROM (
    SELECT piece, f FROM pieces
    ORDER BY f DESC NULLS LAST, piece ASC NULLS FIRST LIMIT {SP_VOCAB}
  )
  UNION
  SELECT piece, f FROM pieces WHERE LENGTH(piece) = 1
),
tot AS (SELECT CAST(SUM(f) AS DOUBLE) AS t FROM vocab),
vc AS MATERIALIZED (
  SELECT piece,
         CAST(FLOOR({SP_SCALE}.0 * -LN(CAST(f AS DOUBLE) / t) + 0.5)
              AS BIGINT) AS cost
  FROM vocab, tot
)"""


def _prune_ctes(src_em: str, keep: int, tag: str) -> str:
    """One prune block (the SQL twin of :func:`_prune_round`): top-``keep``
    of ``src_em`` by EM count + all single characters,
    Laplace(+1)-renormalized costs -> ``vc{tag}`` (the cost table the
    next ``_dp_em_ctes(tag)`` chain consumes)."""
    return f"""keep{tag} AS (
  SELECT piece FROM (
    SELECT piece,
           ROW_NUMBER() OVER (
             ORDER BY em_count DESC NULLS LAST, piece ASC NULLS FIRST
           ) AS rn
    FROM {src_em}
  ) WHERE rn <= {keep}
),
surv{tag} AS (
  SELECT piece FROM keep{tag}
  UNION
  SELECT piece FROM vc WHERE LENGTH(piece) = 1
),
em0{tag} AS (
  SELECT s.piece, COALESCE(e.em_count, 0) AS em
  FROM surv{tag} s LEFT JOIN {src_em} e USING (piece)
),
tot2{tag} AS (
  SELECT CAST(SUM(em) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS v
  FROM em0{tag}
),
vc{tag} AS MATERIALIZED (
  SELECT piece,
         CAST(FLOOR({SP_SCALE}.0
                    * -LN((CAST(em AS DOUBLE) + 1.0) / (t + v)) + 0.5)
              AS BIGINT) AS cost
  FROM em0{tag}, tot2{tag}
)"""


def _sp_chain(schedule: tuple[int, ...]) -> tuple[str, str, str]:
    """The WITH-chain BODY of the ``schedule`` loop plus its terminal
    identifiers ``(blocks, tag, prev)``: the seed + DP/EM blocks with a
    prune block before every later round, the final round's tag
    (``vc{tag}`` / ``final{tag}`` name it), and the final EM ledger CTE
    name.  Downstream oracles (encode, pack) append their own tail CTEs
    to it instead of string-slicing an assembled query, which a nested
    SELECT in the final projection would silently truncate."""
    parts = [_seed_ctes(), _dp_em_ctes("")]
    prev = "em"
    tag = ""
    for i, keep in enumerate(schedule, start=1):
        tag = f"_p{i}"
        parts.append(_prune_ctes(prev, keep, tag))
        parts.append(_dp_em_ctes(tag))
        prev = f"em{tag}"
    return ",\n".join(parts), tag, prev


def _sp_report_oracle(schedule: tuple[int, ...], cost_col: str) -> str:
    """The final round's top-``SP_TOP`` pieces with their cost as
    ``cost_col``; a schedule with prunes adds the round-1 EM count."""
    blocks, tag, prev = _sp_chain(schedule)
    em1, join1 = "", ""
    if schedule:
        em1 = ",\n       CAST(COALESCE(e1.em_count, 0) AS BIGINT) AS em1_count"
        join1 = f"\nLEFT JOIN em e1 ON e1.piece = {prev}.piece"
    return f"""
WITH {blocks}
SELECT {prev}.piece, {prev}.em_count, {prev}.n_words,
       vc{tag}.cost AS {cost_col}{em1}
FROM {prev} JOIN vc{tag} ON vc{tag}.piece = {prev}.piece{join1}
ORDER BY {prev}.em_count DESC NULLS LAST, {prev}.piece ASC NULLS FIRST
LIMIT {SP_TOP}
"""


def encode_np_dw_ctes(tag: str) -> str:
    """The ENCODE-side (word -> n_pieces) + exploded-corpus-words CTE
    pair appended after the loop chain's ``final{tag}`` — shared by the
    sp_encode oracle and the sequence-packing composition
    (``operators/sp_pack.py``) so the segmentation-to-piece-count rule
    has ONE definition."""
    return f"""np AS (
  SELECT word,
         CAST(len(string_split(seg, chr(127))) - 1 AS BIGINT) AS np
  FROM final{tag}
),
dw AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
        FROM documents)
  WHERE w <> ''
)"""


def segment_words(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(word, c, seg): Viterbi-segment every distinct word under
    ``costs`` (Arrow-batched pandas UDF, row-local, shuffle-free) —
    the shared E-step frame; the encode leg consumes it directly."""
    seg_udf = pandas_udf(lambda s: _viterbi_series(s, costs), "string")
    return words.select("word", "c", seg_udf(F.col("word")).alias("seg"))


def _segment_em(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """E-step + M-step under ``costs``: the count-weighted piece ledger
    (piece, em_count, n_words) of :func:`segment_words`."""
    wp = (
        segment_words(words, costs)
        .select(
            "word",
            "c",
            F.explode(F.split(F.col("seg"), _SEP)).alias("piece"),
        )
        .filter(F.col("piece") != "")
        .groupBy("word", "c", "piece")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return wp.groupBy("piece").agg(
        F.sum(F.col("k") * F.col("c")).cast("long").alias("em_count"),
        F.count(F.lit(1)).alias("n_words"),
    )


def _em_counts(em: DataFrame) -> dict[str, int]:
    """Collect an EM ledger (bounded: <= previous survivors + alphabet
    rows) as {piece: em_count}."""
    return {r["piece"]: r["em_count"] for r in em.collect()}


def _prune_round(
    spark: SparkSession, em_map: dict[str, int], keep: int, singles: Iterable[str]
) -> tuple[DataFrame, dict[str, int]]:
    """One prune step, the Spark twin of :func:`_prune_ctes`: keep the
    top-``keep`` pieces of the collected EM counts ``em_map`` by
    (em_count DESC, piece ASC) plus every piece in ``singles``, and
    Laplace(+1)-renormalize their costs.  Returns ``(vc, costs)``: the
    cost table frame and its collected dict.

    The totals t = SUM(em), v = COUNT(*) are exact integers computed
    driver-side (Python int sum == Spark's long sum, both cast to the
    identical double); only the -LN stays engine-side (Spark ln — the
    FLOOR quantization discipline shared with the oracle), so the cost
    table is ONE local single-stage job."""
    kept = sorted(em_map, key=lambda p: (-em_map[p], p))
    survivors = set(kept[:keep]) | set(singles)
    em0_rows = sorted((p, em_map.get(p, 0)) for p in survivors)
    tv = float(sum(n for _, n in em0_rows)) + float(len(em0_rows))
    em0 = spark.createDataFrame(em0_rows, "piece string, em long")
    vc = em0.select(
        "piece",
        F.floor(
            F.lit(float(SP_SCALE))
            * -F.log((F.col("em").cast("double") + F.lit(1.0)) / F.lit(tv))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cost"),
    )
    costs = {r["piece"]: r["cost"] for r in vc.collect()}
    return vc, costs


def _distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted distinct-word count table (word, c) — the ONE
    corpus scan every training round and the encode leg share."""
    d = load_table(spark, sf_dir, "documents")
    # NOT spread (§1.1 measured negative result): spreading this scan
    # multiplied the task count and per-task pandas-UDF overhead of every
    # Viterbi-DP/collect job of the training loop over the persisted
    # result — cold text_sp_encode regressed 5.9 s -> ~40 s.  The
    # one-task scan is the faster shape for a vocabulary-bound driver
    # loop; on a production multi-split layout the scan is already wide.
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= SP_WORD_MAX))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )


def _em_round(spark: SparkSession, sf_dir: str, words: DataFrame | None = None):
    """Round 1: (words, vc, em, costs) — the persisted distinct-word
    table, the seed piece-cost table, the round-1 EM ledger, and the
    seed cost dict (collected once; the prune rounds' singles set reuses
    it).  ``words`` may be passed in by a caller that already built the
    word table."""
    if words is None:
        words = _distinct_words(spark, sf_dir)
    pieces = (
        words.select(
            "word",
            "c",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        .select(
            "word",
            "c",
            "i",
            F.explode(F.sequence(F.lit(1), F.lit(SP_PIECE_MAX))).alias("L"),
        )
        .filter(F.col("i") + F.col("L") - 1 <= F.length("word"))
        .select(
            F.substring(F.col("word"), F.col("i"), F.col("L")).alias("piece"),
            "c",
        )
        .groupBy("piece")
        .agg(F.sum("c").cast("long").alias("f"))
        .transform(persist_tracked)
    )
    top = pieces.orderBy(
        F.col("f").desc_nulls_last(), F.col("piece").asc_nulls_first()
    ).limit(SP_VOCAB)
    singles = pieces.filter(F.length("piece") == 1)
    vocab = top.union(singles).distinct()
    tot = vocab.agg(F.sum("f").cast("double").alias("t"))
    vc = vocab.join(F.broadcast(tot), F.lit(True)).select(
        "piece",
        F.floor(
            F.lit(float(SP_SCALE))
            * -F.log(F.col("f").cast("double") / F.col("t"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cost"),
    )
    # bounded collect: <= SP_VOCAB + alphabet rows (the codebook precedent)
    costs = {r["piece"]: r["cost"] for r in vc.collect()}
    return words, vc, _segment_em(words, costs), costs


# Session store of the trainer's state, keyed on (realpath of the fixture
# dir, keep-schedule prefix) — the clf_core._WEIGHTS_CACHE pattern.  Each
# entry holds the cost dict after that prefix and the round-1 EM counts
# (empty for the seed prefix ``()``, whose costs also give the singles).
# Every prefix a build reaches is stored, and a schedule resumes from its
# longest stored prefix; round 1's EM counts, the same for every
# schedule, are read from any stored prune.  So the three schedules share
# the seed chain and round 1, and a fully stored schedule — the training
# loop's encode and pack legs included — re-enters its final costs and
# round-1 ledger as literals and launches no loop jobs.  Values are
# byte-identical either way: the store holds the exact collected cost
# integers, and each E-step frame is recomputed from the same (words,
# costs) inputs.  Fixture dirs are immutable in this harness; anyone
# regenerating one in-place must call clear_trained_cache().
_TRAINED_CACHE: dict[
    tuple[str, tuple[int, ...]], tuple[dict[str, int], dict[str, int]]
] = {}


def clear_trained_cache() -> None:
    """Invalidate the session store (fixture regenerated in-place)."""
    _TRAINED_CACHE.clear()


def _round1_counts(root: str) -> dict[str, int] | None:
    """Round 1's EM counts for ``root`` if a stored schedule has pruned
    (they are the same for every schedule), else None."""
    return next(
        (em1 for (r, p), (_, em1) in _TRAINED_CACHE.items() if r == root and p),
        None,
    )


def trained_costs(spark: SparkSession, sf_dir: str, schedule: tuple[int, ...]):
    """Run round 1, then one prune + E/M round per ``keep`` in
    ``schedule``, resuming from the longest prefix in the session store;
    return ``(words, vc_final, em_final, em1_map, costs_final)`` — the
    persisted distinct-word table, the final cost table (DataFrame), the
    final EM ledger frame (unexecuted lineage under the final costs), the
    round-1 EM counts (empty for ``()``), and the final cost dict."""
    root = os.path.realpath(sf_dir)
    words = _distinct_words(spark, sf_dir)
    stored = [
        n for n in range(len(schedule) + 1) if (root, schedule[:n]) in _TRAINED_CACHE
    ]
    start = stored[-1] if stored else -1
    if start == len(schedule):
        costs, em1_map = _TRAINED_CACHE[(root, schedule)]
        vc = spark.createDataFrame(sorted(costs.items()), "piece string, cost long")
        return words, vc, _segment_em(words, costs), dict(em1_map), dict(costs)
    # The bounded collects run under a shuffle width derived from the
    # measured word count, AQE off below one partition's worth: each
    # collect is ONE job instead of 3-6 AQE exchange materializations
    # (no-op at cluster scale).  The report frame executes OUTSIDE the
    # scope at the session width.
    with loop_shuffle_partitions(words):
        if start < 0:
            words, vc, _, costs = _em_round(spark, sf_dir, words=words)
            _TRAINED_CACHE[(root, ())] = (costs, {})
            start = 0
        costs, em1_map = _TRAINED_CACHE[(root, schedule[:start])]
        singles = sorted(p for p in _TRAINED_CACHE[(root, ())][0] if len(p) == 1)
        # costs re-enter the E-step as literals: identical plan per round
        em = _segment_em(words, costs)
        for n in range(start, len(schedule)):
            if n == 0:
                em_map = em1_map = _round1_counts(root) or _em_counts(em)
            else:
                em_map = _em_counts(em)
            vc, costs = _prune_round(spark, em_map, schedule[n], singles)
            _TRAINED_CACHE[(root, schedule[: n + 1])] = (costs, em1_map)
            em = _segment_em(words, costs)
    return words, vc, em, dict(em1_map), dict(costs)


def _sp_report(
    spark: SparkSession, sf_dir: str, schedule: tuple[int, ...], cost_col: str
) -> DataFrame:
    """The one report builder: the final round's top-``SP_TOP`` pieces,
    their cost as ``cost_col`` and, when ``schedule`` prunes, the
    round-1 EM count."""
    _words, vc, em, em1_map, _costs = trained_costs(spark, sf_dir, schedule)
    out = em.join(F.broadcast(vc), "piece")
    cols = [
        "piece",
        "em_count",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("cost").alias(cost_col),
    ]
    if schedule:
        em1_df = spark.createDataFrame(
            sorted(em1_map.items()), "piece string, em1_count long"
        )
        out = out.join(F.broadcast(em1_df), "piece", "left")
        cols.append(
            F.coalesce(F.col("em1_count"), F.lit(0))
            .cast("long")
            .alias("em1_count")
        )
    return (
        out.select(*cols)
        .orderBy(
            F.col("em_count").desc_nulls_last(),
            F.col("piece").asc_nulls_first(),
        )
        .limit(SP_TOP)
    )


@register(
    "text_sp_unigram_em",
    oracle=_sp_report_oracle((), "seed_cost"),
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
    return _sp_report(spark, sf_dir, (), "seed_cost")


@register(
    "text_sp_unigram_prune",
    oracle=_sp_report_oracle((SP_KEEP,), "prune_cost"),
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
    " runs the unrolled DP chain TWICE (tags '' and '_p1' — a bare digit"
    " would collide with round 1's dp12, see _dp_em_ctes) with the prune"
    " CTEs between.",
)
def text_sp_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sp_report(spark, sf_dir, (SP_KEEP,), "prune_cost")


@register(
    "text_sp_unigram_train",
    oracle=_sp_report_oracle(SP_LOOP_SCHEDULE, "final_cost"),
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
    return _sp_report(spark, sf_dir, SP_LOOP_SCHEDULE, "final_cost")
