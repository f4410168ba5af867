"""Shared BM25 scoring (non-registering).

``operators/retrieval.py`` (ranked BM25 retrieval) and
``operators/fusion.py`` (hybrid RRF fusion) score documents with the
same BM25 leg; this module holds the single implementation.

Scoring discipline (unchanged from retrieval.py's original): k1=1.2,
b=0.75, Lucene-style always-positive idf ln((N-df+0.5)/(df+0.5)+1);
score literals are written identically in both engines (never derived
by float arithmetic like K1+1); per-term scores round to 6dp and sum
through DECIMAL(18,6) so the total is accumulation-order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BM25_QUERY = ["spark", "join", "vector"]


def bm25_scored_sql() -> str:
    """DuckDB CTE chain ending in per-doc ``(doc_id, bm25)`` rows (no
    ORDER/LIMIT — callers append their own ranking)."""
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
corpus AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_docs FROM dl
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
  WHERE token IN ({terms})
  GROUP BY doc_id, token
),
dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
SELECT doc_id,
       ROUND(CAST(SUM(
         CAST(ROUND(
           ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)
              + 1.0)
           * tf * 2.2
           / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
         , 6) AS DECIMAL(18,6))
       ) AS DOUBLE), 6) AS bm25
FROM tf JOIN dft USING (token) JOIN dl USING (doc_id) CROSS JOIN corpus
GROUP BY doc_id"""


def bm25_scores(d: DataFrame) -> DataFrame:
    """(doc_id, bm25) over a ``documents`` frame — Spark twin of
    :func:`bm25_scored_sql`.  Scale shape: tokens filter to the query
    terms BEFORE aggregation, df/corpus stats are tiny broadcasts;
    nothing wide shuffles."""
    from sql2all_spark.cache import persist_tracked

    toks = F.split(F.col("text"), " ")
    # (doc_id, dl) is slim ints — persist it so the corpus-stats aggregate
    # and the per-doc length join share ONE tokenizing scan of documents
    # instead of re-reading (and re-splitting) the text twice
    dl = d.select("doc_id", F.size(toks).alias("dl")).transform(
        persist_tracked
    )
    corpus = dl.agg(
        F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .filter(F.col("token").isin(BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    denom = F.col("tf") + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dl") / avgdl
    )
    # Per-term scores round to 6 dp and sum through DECIMAL: a raw double
    # SUM's accumulation order differs between Spark's partial aggs and
    # DuckDB's serial scan (see retrieval.py's original rationale).
    term_score = F.round(idf * F.col("tf") * F.lit(2.2) / denom, 6).cast(
        "decimal(18,6)"
    )
    return (
        tf.join(F.broadcast(dft), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score).cast("double"), 6).alias("bm25"))
    )
