"""Iterated BPE TRAINING loop — the mine→apply→re-mine alternation that
``text_bpe_merge_mine`` (one statistics round, tokenize.py) and
``text_bpe_encode`` (apply a fixed table, tokenize.py) bracket but never
close (VERDICT r9 #4).

True byte-pair-encoding training (Sennrich et al. 2016) re-counts pair
frequencies AFTER each merge: once ``t``+``h`` → ``th`` wins round 1,
round 2's candidates include (``th``, ``e``) — a pair that did not exist
in the round-1 statistics.  A single mining pass (what the encoder's
static rank table approximates) systematically over-ranks pairs whose
occurrences overlap earlier merges; the loop is the exact algorithm.

Execution shape:
- state is the DISTINCT-WORD vocabulary as (count, symbol-array) — vocab-
  sized, not corpus-sized; the corpus text is touched exactly once to
  build word counts (one partial-agg exchange), and that vocab is
  checkpointed (``cache.checkpoint_tracked`` picks reliable or local
  storage);
- a vocab of at most ``looputil.LOCAL_LOOP_MAX_ROWS`` words is collected
  ONCE and every round runs on the driver (:func:`_train_local`): pair
  counts, the argmax and the greedy merge in plain Python, no Spark job
  per round.  The argmax order (pair_count desc, sym_a asc, sym_b asc)
  is the distributed one: Python ``str`` order is code-point order,
  which equals Spark's UTF-8 binary order;
- a larger vocab runs the distributed loop: each round mines the argmax
  pair with a vocab-local adjacent-pair explode + partial-agg groupBy +
  1-row ``TakeOrderedAndProject`` (one row crosses to the driver per
  round), and the winning merge applies as ONE parallel higher-order
  pass, ``tokenize._bpe_pass_col`` (merges are restricted to
  sym_a <> sym_b, so greedy left-to-right matches can never overlap and
  the pass needs no sequential scan — the same argument as
  tokenize._bpe_pass_sql).  Each round's vocab is checkpointed: round N's
  plan references round N-1 once for the pass and once for mining, so
  an untruncated loop grows multiplicatively.

The oracle replays the IDENTICAL loop as mechanically-unrolled SQL (one
mine-CTE + one apply-CTE per round), so the driver's value gate proves
the trained merge table byte-identical across engines — rank, pair, and
count.  Consistency with the encoder is pinned in
``tests/test_invariants.py``: folding the trained table through the
encode pass reproduces the training loop's final vocabulary state.

Reference parity note: SQL2ALL delegates all SQL to the attached DB
(src/db/sqlite.rs:79) and has no tokenizer surface; this module belongs
to the LLM-pipeline extension family (SURVEY.md §2).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sql2all_spark.cache import checkpoint_tracked
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

BPE_TRAIN_ROUNDS = 10


def _arrow_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType
) -> DataFrame:
    """Driver rows → frame through one pyarrow Table with exactly
    ``schema`` (nullable flags included).  The JVM decodes the Arrow
    batches into a ``LocalTableScan`` that keeps the row order; no
    Python worker runs, unlike a frame of pickled rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


def _adjacent_pairs(syms: Column) -> Column:
    """Row-local (sym_a, sym_b) structs for each adjacent symbol pair."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("sym_a"),
            F.element_at(syms, i + 1).alias("sym_b"),
        ),
    )


def _mine_best(vocab: DataFrame) -> DataFrame:
    """One mining round: argmax adjacent pair over the weighted vocab.

    Pair generation is row-local (no positional self-join); the groupBy
    exchanges only (sym, sym, partial count) cells with map-side combine;
    the argmax is a 1-row bounded heap.  sym_a <> sym_b keeps the apply
    pass parallel (see module docstring)."""
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(F.explode(_adjacent_pairs(F.col("syms"))).alias("pr"), "c")
        .select("pr.sym_a", "pr.sym_b", "c")
        .filter(F.col("sym_a") != F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(F.sum("c").cast("long").alias("pair_count"))
        .orderBy(
            F.col("pair_count").desc_nulls_last(),
            F.col("sym_a").asc_nulls_first(),
            F.col("sym_b").asc_nulls_first(),
        )
        .limit(1)
    )


def _merge_local(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right merge of adjacent (a, b) into a||b — the
    driver twin of ``tokenize._bpe_pass_col`` (equal to it because
    a != b, see module docstring)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_local(
    vocab: list[tuple[int, list[str]]], rounds: int
) -> tuple[list[tuple], list[tuple[int, list[str]]]]:
    """The training loop over a collected (c, syms) vocab: same rules and
    final vocab as the distributed rounds."""
    rules: list[tuple] = []
    for rank in range(1, rounds + 1):
        counts: Counter[tuple[str, str]] = Counter()
        for c, syms in vocab:
            for pair in zip(syms, syms[1:]):
                if pair[0] != pair[1]:
                    counts[pair] += c
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((rank, a, b, a + b, n))
        vocab = [(c, _merge_local(syms, a, b)) for c, syms in vocab]
    return rules, vocab


def _initial_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.spread import spread_fanout

    d = load_table(spark, sf_dir, "documents")
    # §2.5 re-spread: the word explode + count ran single-task on the
    # one-row-group fixture scan; no-op on multi-split layouts.
    wc = (
        spread_fanout(d.select("text"))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return wc.select("c", chars.alias("syms"))


def train_bpe(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_TRAIN_ROUNDS
) -> tuple[list[tuple], DataFrame]:
    """Run the training loop; returns (merge rules, final vocab state).

    Rules are (rank, sym_a, sym_b, merged, pair_count) tuples; the final
    vocab is the (c, syms) frame after all merges — exposed so tests can
    pin encoder consistency."""
    return _train_vocab(_initial_vocab(spark, sf_dir), rounds)


def _train_vocab(
    vocab: DataFrame, rounds: int
) -> tuple[list[tuple], DataFrame]:
    """:func:`train_bpe` from a (c, syms) vocab frame."""
    from sql2all_spark.looputil import (
        collect_if_bounded,
        loop_shuffle_partitions,
    )
    from sql2all_spark.operators.tokenize import _bpe_pass_col

    # eager=False: the gate's count materializes the checkpoint blocks
    cur = checkpoint_tracked(vocab, eager=False)
    local = collect_if_bounded(cur)
    if local is not None:
        rules, final = _train_local([(r.c, r.syms) for r in local], rounds)
        return rules, _arrow_frame(cur.sparkSession, final, cur.schema)
    rules: list[tuple] = []
    # Loop shuffles sized from the materialized vocab count, AQE off for
    # tiny frames (looputil) — each mining round is one pair-explode +
    # partial-agg + argmax over a bounded word-count-sized frame.
    with loop_shuffle_partitions(cur):
        for rank in range(1, rounds + 1):
            best = _mine_best(cur).collect()
            if not best:
                break  # vocabulary fully merged (not reachable on the fixture)
            a, b, n = best[0]
            rules.append((rank, a, b, a + b, n))
            merge = {"sym_a": F.lit(a), "sym_b": F.lit(b)}
            cur = checkpoint_tracked(
                cur.select("c", _bpe_pass_col(F.col("syms"), merge).alias("syms"))
            )
    return rules, cur


def _train_oracle() -> str:
    def pass_sql(m: str) -> str:
        a, b = f"{m}.sym_a", f"{m}.sym_b"
        return f"""list_filter(list_transform(range(1, len(syms) + 1), i ->
      CASE WHEN syms[i] = {a} AND syms[i + 1] = {b} THEN {a} || {b}
           WHEN i > 1 AND syms[i - 1] = {a} AND syms[i] = {b} THEN NULL
           ELSE syms[i] END), x -> x IS NOT NULL)"""

    rounds = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        rounds.append(f"""
m{k} AS (
  SELECT sym_a, sym_b, SUM(c) AS pc
  FROM (SELECT c, syms[i] AS sym_a, syms[i + 1] AS sym_b
        FROM v{k - 1}, UNNEST(range(1, len(syms))) AS t(i))
  WHERE sym_a <> sym_b
  GROUP BY sym_a, sym_b
  ORDER BY pc DESC NULLS LAST, sym_a ASC NULLS FIRST, sym_b ASC NULLS FIRST
  LIMIT 1
),
v{k} AS (
  -- LEFT JOIN ON TRUE (not a cross join) carries the vocab through an
  -- empty mining round: NULL sym_a/sym_b make the merge pass an
  -- identity (both CASE arms are NULL-falsy), instead of wiping the
  -- v-chain for all later rounds (ADVICE r10).
  SELECT c, {pass_sql(f"m{k}")} AS syms
  FROM v{k - 1} LEFT JOIN m{k} ON TRUE)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, sym_a, sym_b, sym_a || sym_b AS merged,"
        f" CAST(pc AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return f"""
WITH wc AS (
  SELECT word, COUNT(*) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
v0 AS (
  SELECT c, list_transform(range(1, length(word) + 1),
                           i -> substr(word, i, 1)) AS syms
  FROM wc
),{",".join(rounds)}
SELECT CAST(rank AS BIGINT) AS rank, sym_a, sym_b, merged, pair_count
FROM ({union})
ORDER BY rank ASC NULLS FIRST
"""


@register(
    "text_bpe_train",
    oracle=_train_oracle(),
    doc=f"Iterated BPE training ({BPE_TRAIN_ROUNDS} merge rounds,"
    " Sennrich et al. 2016): alternate pair-mining and merge application"
    " so later rounds see merged symbols — the loop text_bpe_merge_mine's"
    " single round approximates.  A vocab within looputil's local-loop"
    " gate is collected once and trained on the driver; a larger one runs"
    " Spark rounds: vocab-local pair explode + partial-agg + 1-row"
    " TakeOrderedAndProject argmax, one parallel a<>b merge pass, lineage"
    " truncation.  The"
    " unrolled-SQL oracle proves the merge table byte-identical: rank,"
    " pair, and corpus count per round.",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules, _final_vocab = train_bpe(spark, sf_dir)
    # rules are built in rank order and the Arrow-built LocalTableScan
    # keeps its row order, so no sort (sorting ten rows cost three jobs)
    schema = "rank long, sym_a string, sym_b string, merged string, pair_count long"
    return _arrow_frame(spark, rules, StructType.fromDDL(schema))
