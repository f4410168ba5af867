"""Lexical retrieval: BM25 and TF-IDF over the documents table.

The sparse-retrieval counterpart to sim_doc_retrieval's dense path: at
100 TB these are the standard "find training docs matching a probe query"
tools.

Reference parity: the reference (SQL2ALL) delegates ad-hoc scoring SQL to
the attached engine; these are the native Spark twins (see SURVEY.md §2.B).

All score literals below are written identically in both engines (and never
derived by float arithmetic like K1+1, whose rounding could differ from the
literal 2.2) so the scores agree bit-for-bit before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.bm25 import bm25_scored_sql, bm25_scores
from sql2all_spark.operators.text import _split_words
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


BM25_TOP_K = 10

# Scoring (CTE chain + Spark twin) lives in functions/bm25.py so the
# hybrid-fusion operator can share it.
BM25_ORACLE = f"""{bm25_scored_sql()}
ORDER BY bm25 DESC NULLS LAST, doc_id ASC NULLS FIRST
LIMIT {BM25_TOP_K}
"""


@register(
    "text_bm25_retrieval",
    oracle=BM25_ORACLE,
    doc="BM25 (k1=1.2, b=0.75) top-10 documents for a fixed term query."
    " Scale shape: tokens are filtered to the query terms BEFORE any"
    " aggregation (the exploded stream shrinks to ~|Q| rows per doc at the"
    " scan), term document-frequencies and the corpus length stats are"
    " tiny broadcasts, and the final top-k is TakeOrderedAndProject —"
    " nothing wide ever shuffles.  The idf is the Lucene-style"
    " ln((N-df+0.5)/(df+0.5)+1) form (always positive).",
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(d)
        .orderBy(F.col("bm25").desc_nulls_last(), F.col("doc_id").asc_nulls_first())
        .limit(BM25_TOP_K)
    )


TFIDF_TOP = 3

TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
corpus AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dft USING (token) CROSS JOIN corpus
),
ranked AS (
  SELECT doc_id, token, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY tfidf DESC NULLS LAST, token ASC NULLS FIRST) AS rk
  FROM scored
)
SELECT doc_id, token, tfidf, rk FROM ranked WHERE rk <= {TFIDF_TOP}
"""


@register(
    "text_tfidf_topterms",
    oracle=TFIDF_ORACLE,
    doc=f"Top-{TFIDF_TOP} TF-IDF terms per document — the classic keyword"
    " extraction / doc-signature step.  One shuffle for per-doc term"
    " counts, a size-gated join for the document frequencies (NO broadcast"
    " hint: df(token) is vocabulary-sized and by Heaps' law unbounded at"
    " 100 TB — a forced broadcast OOMs the build side exactly like the r7"
    " customer-broadcast soak failure; at test SFs the auto-threshold"
    " still broadcasts it, at scale it degrades to a shuffle join on"
    " token, which is the correct plan), a per-doc window for the top"
    " terms (ranked on the ROUNDED score with a token tiebreak, so rank"
    " order is engine-independent).",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_split_words(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    corpus = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # dft is ONE row per distinct token — unbounded (Heaps' law: 1e8-1e9
    # tokens at 100 TB).  No broadcast hint: let the size-gated planner
    # broadcast at toy SFs and fall back to a shuffle join at scale.
    scored = (
        tf.join(dft, "token")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("tfidf").desc_nulls_last(), F.col("token").asc_nulls_first()
        )
    )
    return scored.select("doc_id", "token", "tfidf", rk.alias("rk")).filter(
        F.col("rk") <= TFIDF_TOP
    )
