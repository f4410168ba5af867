"""SentencePiece ENCODE leg: apply the TRAINED loop vocabulary to the
corpus (the ``text_bpe_encode`` sibling for the unigram tokenizer).

``text_sp_unigram_train`` converges the vocabulary; this is the step a
pipeline actually runs afterwards — tokenize every document and report
the per-document budget numbers a packing/sampling stage consumes:
word and piece counts, the long-word skip count, and the fixed-point
pieces-per-word rate.

Composition: the trained final costs come from
``sp_unigram.trained_costs`` under ``SP_LOOP_SCHEDULE`` (ONE definition
of the loop — the training report and the encode leg share it); the
segmentation is the same Viterbi E-step frame over DISTINCT words
(``sp_unigram.segment_words``), so each word encodes once no matter how
often it occurs.  Per-word piece counts then meet the corpus through a
plain (word -> n_pieces) join on the exploded document words — at toy
SFs the word map auto-broadcasts, at 100 TB (word vocabularies are
Heaps-unbounded, the TF-IDF df lesson) it degrades to a shuffle join on
the word key; NO broadcast hint.  Document text never carries
segmentations across an exchange — only (doc_id, n_pieces) rows.

Skip semantics mirror training: words longer than ``SP_WORD_MAX`` never
entered the EM loop, so the encoder counts them per document
(``n_skipped``) instead of inventing a fallback segmentation — the
honest budget number (production encoders byte-fall-back; the fixture
vocabulary is bounded by construction).

The oracle reuses the loop oracle's full chain: the final DP chain's
``final{tag}`` CTE already holds every distinct word's segmentation
under the converged costs — n_pieces = separator count, no extra DP.

Cross-engine determinism: counts are exact integers; the
pieces-per-kiloword rate is integer arithmetic (``* 1000 div n``).

Reference parity note: SQL2ALL has no tokenizer surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), completing mine -> train -> ENCODE for the unigram
tokenizer as tokenize.py does for BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.operators.sp_unigram import (
    SP_LOOP_SCHEDULE,
    SP_WORD_MAX,
    _SEP,
    _sp_chain,
    encode_np_dw_ctes,
    segment_words,
    trained_costs,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


def _encode_oracle() -> str:
    chain, tag, _prev = _sp_chain(SP_LOOP_SCHEDULE)
    return f"""
WITH {chain},
{encode_np_dw_ctes(tag)},
enc AS (
  SELECT d.doc_id, n.np FROM dw d JOIN np n USING (word)
),
per_enc AS (
  SELECT doc_id, CAST(SUM(np) AS BIGINT) AS n_pieces,
         CAST(COUNT(*) AS BIGINT) AS n_enc_words
  FROM enc GROUP BY doc_id
),
per_all AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(*) FILTER (WHERE LENGTH(word) > {SP_WORD_MAX})
              AS BIGINT) AS n_skipped
  FROM dw GROUP BY doc_id
)
SELECT a.doc_id, a.n_words, a.n_skipped,
       CAST(COALESCE(e.n_pieces, 0) AS BIGINT) AS n_pieces,
       CAST(CASE WHEN COALESCE(e.n_enc_words, 0) = 0 THEN 0
                 ELSE COALESCE(e.n_pieces, 0) * 1000
                      // e.n_enc_words END AS BIGINT) AS pieces_p1000
FROM per_all a LEFT JOIN per_enc e ON e.doc_id = a.doc_id
ORDER BY a.doc_id ASC NULLS FIRST
"""


def encode_pieces(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(documents, dw, per_enc): the corpus, its exploded non-empty
    words, and the per-doc encoded piece/word counts under the trained
    loop costs — the encode frame shared with the sequence-packing
    composition (``operators/sp_pack.py``) so the tokenize-then-count
    rule has ONE definition."""
    words, _vc, _em, _em1, costs = trained_costs(
        spark, sf_dir, SP_LOOP_SCHEDULE
    )
    seg = segment_words(words, costs).select(
        "word",
        (F.size(F.split("seg", _SEP)) - F.lit(1)).cast("long").alias("np"),
    )
    d = load_table(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    # NO broadcast hint (the TF-IDF Heaps'-law lesson): word
    # vocabularies are unbounded at 100 TB; size-gated auto-broadcast
    # keeps the toy plan, shuffle join on the word key at scale.
    per_enc = (
        dw.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("np").cast("long").alias("n_pieces"),
            F.count(F.lit(1)).cast("long").alias("n_enc_words"),
        )
    )
    return d, dw, per_enc


@register(
    "text_sp_encode",
    oracle=_encode_oracle(),
    doc="SentencePiece ENCODE — the application leg of the trained"
    " EM+prune loop (the bpe_encode sibling): Viterbi-tokenize every"
    " DISTINCT word once under the converged costs, meet the corpus"
    " through a hint-free (word -> n_pieces) join, and report per"
    " document the word/piece counts, the long-word skip count, and"
    " the integer pieces-per-kiloword rate.  The oracle reuses the"
    " loop chain's final segmentation CTE — no extra DP.",
)
def text_sp_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _d, dw, per_enc = encode_pieces(spark, sf_dir)
    per_all = dw.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.count_if(F.length("word") > SP_WORD_MAX)
        .cast("long")
        .alias("n_skipped"),
    )
    return (
        per_all.join(per_enc, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_skipped",
            F.coalesce(F.col("n_pieces"), F.lit(0))
            .cast("long")
            .alias("n_pieces"),
            F.when(
                F.coalesce(F.col("n_enc_words"), F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(
                F.expr(
                    "coalesce(n_pieces, 0) * 1000 div n_enc_words"
                )
            )
            .cast("long")
            .alias("pieces_p1000"),
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )
