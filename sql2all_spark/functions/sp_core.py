"""Shared SentencePiece unigram-LM machinery (Kudo 2018).

Extracted from ``operators/sp_unigram.py`` so the multi-round EM+prune
LOOP operator (``operators/sp_loop.py``) can compose the seed chain, the
Viterbi E-step, the prune step and the unrolled-DP/prune oracle CTE
generators WITHOUT importing the registering operator module.  The
prune step has one definition per engine (:func:`_prune_round`,
:func:`_prune_ctes`), shared by the single prune round and the loop.
All semantics documented in operators/sp_unigram.py's module docstring.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sql2all_spark.cache import persist_tracked
from sql2all_spark.tables import load_table

SP_PIECE_MAX = 4  # max piece length (seed substrings)
SP_WORD_MAX = 12  # words longer than this skip the EM round (both engines)
SP_VOCAB = 64  # seed vocabulary cut (singles always added back)
SP_KEEP = 24  # prune round: multi-char survivors by EM count (singles stay)
SP_TOP = 50  # output rows
SP_SCALE = 1_000_000  # fixed-point -ln p scale (ngram_lm discipline)
_SEP = "\x7f"  # sorts above every ASCII word char -> fewer-pieces tie-break
# (ASCII-only guarantee — see module docstring step 4; parity holds
# regardless since both engines compare the identical key)


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
    ``tag`` so the prune oracle can run the chain twice: ``dp0{tag}`` …
    ``dp{SP_WORD_MAX}{tag}``, ``final{tag}``, ``wp{tag}``, ``em{tag}``
    over the cost table ``vc{tag}`` and the shared ``words``.  One CTE
    per word position (best-per-word via ROW_NUMBER) — pure SQL, no
    recursion.  Round 1 uses tag '' (names identical to the r13 em
    oracle); round 2 uses tag '_p' (a bare digit would collide:
    dp1 + '2' = dp12 = round 1's last CTE)."""
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
    """Shared round-1 seed chain: words → pieces → vocab → vc."""
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
    next ``_dp_em_ctes(tag)`` chain consumes).  Shared by the single
    prune round's oracle and every round of the loop's."""
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


def segment_words(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(word, c, seg): Viterbi-segment every distinct word under
    ``costs`` (Arrow-batched pandas UDF, row-local, shuffle-free) —
    the shared E-step frame; the encode leg consumes it directly."""
    seg_udf = pandas_udf(lambda s: _viterbi_series(s, costs), "string")
    return words.select("word", "c", seg_udf(F.col("word")).alias("seg"))


def _segment_em(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """E-step + M-step under ``costs``: Viterbi-segment every distinct
    word (Arrow-batched pandas UDF, row-local, shuffle-free) and return
    the count-weighted piece ledger (piece, em_count, n_words)."""
    final = segment_words(words, costs)
    wp = (
        final.select(
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


def _prune_round(
    spark: SparkSession, em: DataFrame, keep: int, singles: Iterable[str]
) -> tuple[dict[str, int], DataFrame, dict[str, int]]:
    """One prune step, the Spark twin of :func:`_prune_ctes`: collect the
    EM ledger ``em`` (bounded: <= previous survivors + alphabet rows),
    keep the top-``keep`` pieces by (em_count DESC, piece ASC) plus every
    piece in ``singles``, and Laplace(+1)-renormalize their costs.
    Returns ``(em_map, vc, costs)``: the collected EM counts, the cost
    table frame and its collected dict.

    The totals t = SUM(em), v = COUNT(*) are exact integers computed
    driver-side (Python int sum == Spark's long sum, both cast to the
    identical double); only the -LN stays engine-side (Spark ln — the
    FLOOR quantization discipline shared with the oracle), so the cost
    table is ONE local single-stage job instead of createDataFrame ->
    agg -> broadcast-join -> collect."""
    em_rows = em.collect()
    em_map = {r["piece"]: r["em_count"] for r in em_rows}
    kept = sorted(em_rows, key=lambda r: (-r["em_count"], r["piece"]))
    survivors = {r["piece"] for r in kept[:keep]} | set(singles)
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
    return em_map, vc, costs


def _distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted distinct-word count table (word, c) — the ONE
    corpus scan every training round and the encode leg share.  Split
    out of ``_em_round`` so a warm ``sp_loop.trained_costs`` cache hit
    can rebuild the word frame without the seed-vocabulary machinery."""
    d = load_table(spark, sf_dir, "documents")
    # NOT spread (§1.1 measured negative result): spreading this scan
    # looked free for the warm encode leg, but the EM+prune loop runs
    # ~10 Viterbi-DP/collect jobs over the persisted result per cold
    # train, and the spread multiplied every one of those jobs' task
    # count and per-task pandas-UDF overhead — cold text_sp_encode
    # regressed 5.9 s -> ~40 s in the exclusive bench (where the encode
    # query is the session's first sp query and pays the cold loop).
    # The one-task scan is the faster shape for a vocabulary-bound
    # driver loop; on a production multi-split layout the scan is
    # already wide.
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter((F.col("word") != "") & (F.length("word") <= SP_WORD_MAX))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )


def _em_round(spark: SparkSession, sf_dir: str, words: DataFrame | None = None):
    """Shared round-1 pipeline: (words, vc, em, costs) — the persisted
    distinct-word table, the seed piece-cost table, the round-1 EM
    ledger, and the ALREADY-COLLECTED seed cost dict (r17: the seed
    build collects vc exactly once; callers needing the dict — the
    loop's singles set, the prune round — reuse it instead of paying a
    second collect job).  ``words`` may be passed in by a caller that
    already built/materialized the word table (the loop's
    scale-adaptive shuffle scope counts it first)."""
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
    em = _segment_em(words, costs)
    return words, vc, em, costs


def encode_np_dw_ctes(tag: str) -> str:
    """The ENCODE-side (word -> n_pieces) + exploded-corpus-words CTE
    pair appended after the loop chain's ``final{tag}`` — shared by the
    sp_encode oracle and the sequence-packing composition
    (``operators/sp_pack.py``) so the segmentation-to-piece-count rule
    has ONE definition (text byte-identical to the r15 encode oracle)."""
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
