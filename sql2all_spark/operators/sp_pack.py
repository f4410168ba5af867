"""Training-sequence PACKING on the trained tokenizer's piece counts —
the step between tokenization and the dataloader: concatenate every
document's encoded pieces (plus one EOS separator each) in doc_id
order and cut the stream into fixed ``SP_PACK_LEN``-token sequences
(the GPT-style pack; docs cross sequence boundaries rather than pad).

``text_pack_sequences`` packs whitespace tokens; this is the
production variant a pipeline actually runs AFTER ``text_sp_encode`` —
budgets come from the TRAINED SentencePiece vocabulary, so the packing
reflects real token costs (a zh doc's pieces-per-word differs from
en's; whitespace packing can't see that).  Output is the per-sequence
manifest a dataloader audits: documents touching the sequence, tokens
filled, how many of its documents lie fully inside it vs cross a
boundary, and the integer fill rate (the last sequence is the only
one under ``SP_PACK_LEN``).

Composition (ONE definition each): per-doc piece counts are
``sp_encode.encode_pieces``; the oracle prepends the training loop's
WITH-chain (``sp_unigram._sp_chain``) + ``sp_unigram.encode_np_dw_ctes``
(the text sp_encode's own oracle composes).  Docs whose words were all skipped
(> SP_WORD_MAX chars) or empty still ship their EOS token — every
document lands in exactly one run of the stream (encode's honest
``n_skipped`` semantics carry over: skipped words cost 0 pieces).

DISTRIBUTED PREFIX SUM (the scale story): the token stream's offsets
are a running sum over the doc_id total order, and a naive
``Window.orderBy("doc_id")`` with no partitioning collapses the corpus
onto ONE task — the classic scale killer.  The builder runs the
two-phase scan instead: a DETERMINISTIC range bucketing
``pid = doc_id * NPART div (max_id + 1)`` (one bounded O(1) scalar
collect for max_id; no sampled RangePartitioner boundaries, so the
result is reproducible and partition-count-independent), a per-bucket
cumulative sum (window PARTITIONED by pid — parallel), bucket totals
rolled into exclusive offsets over the NPART-row frame (the only
unpartitioned window, bounded at NPART rows), broadcast back, and
added to the local sums.  Sequence membership is then row-local
arithmetic: ``first_seq = c_start div L``, ``last_seq = (c_end-1) div
L``, exploded per touched sequence (bounded: a doc touches
ceil(toks/L)+1 sequences), and ONE seq_id-keyed aggregation.

Cross-engine determinism: every output is exact integer arithmetic on
exact counts; the oracle's plain ``SUM() OVER (ORDER BY doc_id)``
equals the two-phase scan exactly (prefix sums are associative).

Reference parity note: SQL2ALL has no tokenizer surface (its SQL
passes through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension
family (SURVEY.md §2), completing mine -> train -> encode -> PACK.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.operators.sp_unigram import (
    SP_LOOP_SCHEDULE,
    _sp_chain,
    encode_np_dw_ctes,
)
from sql2all_spark.registry import register

SP_PACK_LEN = 2048  # tokens per packed training sequence
SP_PACK_NPART = 32  # prefix-sum buckets (executor-count-sized at scale)


def _pack_oracle() -> str:
    chain, tag, _prev = _sp_chain(SP_LOOP_SCHEDULE)
    return f"""
WITH {chain},
{encode_np_dw_ctes(tag)},
enc AS (
  SELECT d.doc_id, n.np FROM dw d JOIN np n USING (word)
),
per_enc AS (
  SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_pieces
  FROM enc GROUP BY doc_id
),
toks AS (
  SELECT doc.doc_id,
         CAST(COALESCE(e.n_pieces, 0) + 1 AS BIGINT) AS toks
  FROM documents doc LEFT JOIN per_enc e ON e.doc_id = doc.doc_id
),
cum AS (
  SELECT doc_id, toks,
         CAST(SUM(toks) OVER (ORDER BY doc_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS c_end
  FROM toks
),
spans AS (
  SELECT doc_id, toks, c_end - toks AS c_start, c_end,
         (c_end - toks) // {SP_PACK_LEN} AS first_seq,
         (c_end - 1) // {SP_PACK_LEN} AS last_seq
  FROM cum
),
contrib AS (
  SELECT s AS seq_id,
         LEAST(c_end, (s + 1) * {SP_PACK_LEN})
           - GREATEST(c_start, s * {SP_PACK_LEN}) AS n_tok,
         CASE WHEN first_seq = last_seq THEN 1 ELSE 0 END AS full_doc
  FROM (SELECT *, UNNEST(range(first_seq, last_seq + 1)) AS s
        FROM spans)
)
SELECT seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(full_doc) AS BIGINT) AS n_full_docs,
       CAST(COUNT(*) - SUM(full_doc) AS BIGINT) AS n_split_docs,
       CAST(SUM(n_tok) * 1000 // {SP_PACK_LEN} AS BIGINT) AS fill_p1000
FROM contrib
GROUP BY seq_id
ORDER BY seq_id ASC NULLS FIRST
"""


@register(
    "text_sp_pack_sequences",
    oracle=_pack_oracle(),
    doc="Fixed-length training-sequence packing on the TRAINED"
    f" SentencePiece piece counts: concatenate (doc pieces + 1 EOS) in"
    f" doc_id order, cut every {SP_PACK_LEN} tokens (docs cross"
    " boundaries, GPT-style), one manifest row per sequence: docs"
    " touching it, tokens filled, fully-contained vs boundary-crossing"
    " docs, integer fill rate.  The global running offset is a"
    " TWO-PHASE distributed prefix sum (deterministic doc_id range"
    " buckets + per-bucket window + broadcast bucket offsets), not a"
    " single-partition global window.",
)
def text_sp_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.operators.sp_encode import encode_pieces

    d, _dw, per_enc = encode_pieces(spark, sf_dir)
    toks = (
        d.select("doc_id")
        .join(per_enc.select("doc_id", "n_pieces"), "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce(F.col("n_pieces"), F.lit(0)) + F.lit(1))
            .cast("long")
            .alias("toks"),
        )
    )
    # --- two-phase distributed prefix sum over the doc_id total order
    # (a) deterministic contiguous range buckets: one bounded scalar
    max_id = d.agg(F.max("doc_id")).first()[0] or 0
    bucketed = toks.withColumn(
        "pid",
        F.expr(f"doc_id * {SP_PACK_NPART} div {int(max_id) + 1}").cast(
            "int"
        ),
    ).transform(persist_tracked)  # two consumers: local scan + totals
    # (b) per-bucket cumulative sums — window PARTITIONED by pid
    local_w = Window.partitionBy("pid").orderBy(F.col("doc_id").asc())
    local = bucketed.withColumn(
        "local_cum",
        F.sum("toks").over(
            local_w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # (c) exclusive bucket offsets over the NPART-row totals frame (the
    # only unpartitioned window, bounded at SP_PACK_NPART rows)
    off = (
        bucketed.groupBy("pid")
        .agg(F.sum("toks").alias("ptot"))
        .select(
            "pid",
            F.sum("ptot")
            .over(
                Window.orderBy(F.col("pid").asc()).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("off"),
        )
    )
    cum = local.join(F.broadcast(off), "pid").select(
        "doc_id",
        "toks",
        (F.col("local_cum") + F.coalesce(F.col("off"), F.lit(0))).alias(
            "c_end"
        ),
    )
    # --- row-local sequence spans, exploded per touched sequence
    L = F.lit(SP_PACK_LEN)
    spans = cum.select(
        "doc_id",
        "toks",
        (F.col("c_end") - F.col("toks")).alias("c_start"),
        "c_end",
        F.expr(f"(c_end - toks) div {SP_PACK_LEN}").alias("first_seq"),
        F.expr(f"(c_end - 1) div {SP_PACK_LEN}").alias("last_seq"),
    )
    contrib = spans.select(
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
        "c_start",
        "c_end",
        (F.col("first_seq") == F.col("last_seq"))
        .cast("int")
        .alias("full_doc"),
    ).select(
        "seq_id",
        (
            F.least(F.col("c_end"), (F.col("seq_id") + 1) * L)
            - F.greatest(F.col("c_start"), F.col("seq_id") * L)
        ).alias("n_tok"),
        "full_doc",
    )
    return (
        contrib.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("full_doc").cast("long").alias("n_full_docs"),
            (F.count(F.lit(1)) - F.sum("full_doc"))
            .cast("long")
            .alias("n_split_docs"),
            F.expr(f"sum(n_tok) * 1000 div {SP_PACK_LEN}")
            .cast("long")
            .alias("fill_p1000"),
        )
        .orderBy(F.col("seq_id").asc_nulls_first())
    )
