"""Corpus-curation operators: boilerplate removal, cross-source overlap,
and token-budget mixture planning.

Three governance steps every large-scale training-data pipeline runs
between raw crawl and tokenizer:

- ``text_boilerplate_chunks``: the C4 move (Raffel et al. 2020 §2.2) —
  drop text that repeats verbatim across many documents (nav bars, cookie
  banners, license footers).  C4 keys on lines; this fixture's documents
  have no line structure, so the unit is the non-overlapping K-word chunk
  (same unit ``text_chunk_windows`` / ``text_pack_sequences`` batch on).
  A chunk is boilerplate when it appears in >= MIN_DF distinct documents.
- ``dedup_source_overlap``: the source-by-source contamination matrix —
  how many distinct chunks each PAIR of sources shares verbatim.  The
  dataset-governance view of dedup: ``dedup_exact`` removes duplicates,
  this reports where they come from (e.g. two crawls of the same site,
  a mirror, a dataset repackaged inside another).
- ``sample_epoch_plan``: the mixture planner that turns per-source token
  counts into an epoch schedule.  ``sample_temperature_mix`` SAMPLES
  documents at temperature-scaled rates; this op emits the plan itself —
  per-source token allocations out of a fixed budget and the implied
  repeat factor (epochs) — the table a training run's data loader is
  configured from (w ∝ tokens^0.5, the standard multilingual flattening).

Scale shapes (100 TB):
- boilerplate: chunks are generated ROW-LOCAL (transform over an index
  sequence — no positional self-join), keyed by a 60-bit md5 hash so the
  document-frequency exchange carries (int64, doc_id) pairs instead of
  chunk strings; the DF aggregate partial-aggregates, and the flag join is
  an equi-join on the hash key (skew-safe: a chunk's DF is bounded by the
  corpus, but the JOIN key distribution is near-uniform because dup
  chunks collapse to one row per doc before joining).
- source overlap: the corpus collapses to DISTINCT (chunk_key, source)
  FIRST (the only corpus-sized exchange, slim pairs with partial agg);
  per-key source sets are bounded by n_sources (20 here, rarely more than
  a few thousand anywhere), so pair expansion is row-local over a tiny
  sorted array — never a chunk-level self-join of the corpus.
- epoch plan: two slim aggregates (per-source, then grand totals joined
  back by broadcast) and integer-exact arithmetic throughout; the only
  wide exchange partial-aggregates to n_sources rows.

Reference parity note: the reference has no curation surface (it exports
query results to one file, ``src/lib.rs:96``); this module extends the
LLM-pipeline family (SURVEY.md "beyond-reference" operators) next to
``operators/text.py`` and ``operators/sampling.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

CHUNK_K = 8  # words per non-overlapping chunk (text_chunk_windows' unit)
MIN_DF = 3  # a chunk in >= MIN_DF distinct docs is boilerplate (C4 used 3)
ALPHA_NUM, ALPHA_DEN = 1, 2  # mixture temperature: w ∝ tokens^(1/2)
EPOCH_SCALE = 1000  # epochs reported in 1/1000ths (integer-exact)


def _chunks(d: DataFrame) -> DataFrame:
    """(doc_id, source, k, clen): one row per non-overlapping K-word chunk,
    keyed by the 60-bit md5 hash of the chunk text.  Chunk generation is
    row-local: an index sequence 0..ceil(n/K)-1 transformed into slices —
    the corpus never self-joins, and only (hash, ids) cross exchanges."""
    words = F.split("text", " ")
    n_chunks = F.floor((F.size(words) + F.lit(CHUNK_K - 1)) / F.lit(CHUNK_K))
    chunk = lambda i: F.array_join(  # noqa: E731
        F.slice(words, i * CHUNK_K + 1, CHUNK_K), " "
    )
    clen = lambda i: F.size(F.slice(words, i * CHUNK_K + 1, CHUNK_K))  # noqa: E731
    return d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.struct(
                    base_hash(chunk(i)).alias("k"), clen(i).alias("clen")
                ),
            )
        ).alias("c"),
    ).select("doc_id", "source", "c.k", "c.clen")


_CHUNKS_SQL = f"""
  SELECT doc_id, source,
         {base_hash_sql(
             f"array_to_string(list_slice(words, i*{CHUNK_K}+1,"
             f" i*{CHUNK_K}+{CHUNK_K}), ' ')"
         )} AS k,
         len(list_slice(words, i*{CHUNK_K}+1, i*{CHUNK_K}+{CHUNK_K})) AS clen
  FROM (
    SELECT doc_id, source, words,
           UNNEST(range(0, (len(words) + {CHUNK_K - 1}) // {CHUNK_K})) AS i
    FROM (SELECT doc_id, source, string_split(text, ' ') AS words
          FROM documents)
  )
"""


@register(
    "text_boilerplate_chunks",
    oracle=f"""
WITH keyed AS ({_CHUNKS_SQL}),
df AS (
  SELECT k, COUNT(DISTINCT doc_id) AS nd FROM keyed GROUP BY k
),
boiler AS (SELECT k FROM df WHERE nd >= {MIN_DF}),
fl AS (
  SELECT doc_id, clen, k IN (SELECT k FROM boiler) AS is_b FROM keyed
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       CAST(SUM(CASE WHEN is_b THEN 0 ELSE clen END) AS BIGINT)
         AS tokens_kept
FROM fl GROUP BY doc_id
ORDER BY doc_id ASC NULLS FIRST
""",
    doc=f"C4-style boilerplate filter: a {CHUNK_K}-word chunk appearing in"
    f" >= {MIN_DF} distinct documents is boilerplate; per document, report"
    " chunk counts and the token count a cleaned rewrite would keep."
    " Scale shape: chunks generate row-local and collapse to 60-bit hash"
    " keys before the document-frequency exchange (int64 pairs, not"
    " strings, with partial agg); the boilerplate flag is an equi-join on"
    " the hash, and the per-doc rollup partial-aggregates.  No corpus"
    " self-join, no broadcast of the (corpus-sized at 100 TB) chunk set.",
)
def text_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = _chunks(load_table(spark, sf_dir, "documents"))
    boiler = (
        keyed.select("k", "doc_id")
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= MIN_DF)
        .select("k", F.lit(True).alias("is_b"))
    )
    return (
        keyed.join(boiler, "k", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("is_b"), 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
            F.sum(F.when(F.col("is_b"), 0).otherwise(F.col("clen")))
            .cast("long")
            .alias("tokens_kept"),
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )


@register(
    "dedup_source_overlap",
    oracle=f"""
WITH keyed AS ({_CHUNKS_SQL}),
ks AS (SELECT DISTINCT k, source FROM keyed),
pr AS (
  SELECT a.k, a.source AS source_a, b.source AS source_b
  FROM ks a JOIN ks b ON a.k = b.k AND a.source < b.source
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
FROM pr GROUP BY source_a, source_b
ORDER BY n_shared_chunks DESC NULLS LAST,
         source_a ASC NULLS FIRST, source_b ASC NULLS FIRST
""",
    doc="Cross-source overlap matrix: for every pair of sources, the"
    " number of distinct 8-word chunks both contain verbatim — the"
    " governance report behind dedup (which crawl duplicates which)."
    " Scale shape: the corpus collapses to DISTINCT (chunk-hash, source)"
    " slim pairs first (the only corpus-sized exchange, partial-agg);"
    " per-hash source sets are bounded by n_sources, so the pair"
    " expansion is a row-local transform over a tiny sorted array — the"
    " oracle's chunk-level self-join (quadratic in a hot chunk's row"
    " count) never runs on the Spark side.",
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ks = (
        _chunks(load_table(spark, sf_dir, "documents"))
        .select("k", "source")
        .distinct()
    )
    sets = (
        ks.groupBy("k")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ss") - 2),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("ss") - 1),
                        lambda j: F.struct(
                            F.col("ss")[i].alias("source_a"),
                            F.col("ss")[j].alias("source_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_chunks"))
        .orderBy(
            F.col("n_shared_chunks").desc_nulls_last(),
            F.col("source_a").asc_nulls_first(),
            F.col("source_b").asc_nulls_first(),
        )
    )


@register(
    "sample_epoch_plan",
    oracle=f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wts AS (
  SELECT source, n_docs, n_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) + 0.5) AS BIGINT)
           AS weight
  FROM per
),
tot AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS ssum,
         CAST(SUM(n_tokens) AS BIGINT) AS btot
  FROM wts
),
alloc AS (
  SELECT source, n_docs, n_tokens, weight,
         weight * (btot // ssum)
           + (weight * (btot % ssum)) // ssum AS alloc_tokens
  FROM wts, tot
)
SELECT source, n_docs, n_tokens, weight,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST((alloc_tokens * {EPOCH_SCALE}) // n_tokens AS BIGINT)
         AS epochs_p1000
FROM alloc
ORDER BY source ASC NULLS FIRST
""",
    doc="Token-budget mixture planner: per-source token counts are"
    " temperature-flattened (w ∝ tokens^0.5) and the corpus token budget"
    " is split proportionally — alloc = floor(budget·w/Σw), reported with"
    " the implied repeat factor epochs_p1000 = floor(1000·alloc/tokens),"
    " the table a data loader replays (>1000 = upsampled low-resource"
    " source, <1000 = downsampled head).  Integer-exact across engines:"
    " one correctly-rounded SQRT, then pure int64 arithmetic — the"
    " product decomposes as w·(B//Σw) + (w·(B%Σw))//Σw so nothing"
    " overflows even when budget × weight would.  Plan shape: one"
    " partial-agg exchange to n_sources rows, a 1-row grand-total"
    " broadcast joined back, row-local math.",
)
def sample_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) + 0.5).cast(
                "long"
            ),
        )
    )
    tot = per.agg(
        F.sum("weight").cast("long").alias("ssum"),
        F.sum("n_tokens").cast("long").alias("btot"),
    )
    alloc = per.join(F.broadcast(tot), F.lit(True)).withColumn(
        "alloc_tokens",
        F.expr(
            "weight * (btot div ssum) + (weight * (btot % ssum)) div ssum"
        ).cast("long"),
    )
    return alloc.select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        "alloc_tokens",
        F.expr(f"(alloc_tokens * {EPOCH_SCALE}) div n_tokens")
        .cast("long")
        .alias("epochs_p1000"),
    ).orderBy(F.col("source").asc_nulls_first())


from sql2all_spark.operators.dedup_shared import (  # noqa: E402
    CLUSTER_JACCARD_FLOOR,
    NGRAM_PAIRS_ORACLE,
)


@register(
    "dedup_keeper_select",
    oracle=f"""
WITH RECURSIVE
pairs AS (
  SELECT * FROM ({NGRAM_PAIRS_ORACLE}) all_pairs
  WHERE jaccard >= {CLUSTER_JACCARD_FLOOR}
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u FROM und),
reach(u, r) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u
),
comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
j AS (
  SELECT c.cluster_id, c.doc_id,
         len(string_split(d.text, ' ')) AS n_tokens
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_tokens DESC, doc_id ASC) AS rn
  FROM j
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
         AS keeper_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT)
         AS keeper_tokens,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(SUM(n_tokens) - MAX(CASE WHEN rn = 1 THEN n_tokens END)
            AS BIGINT) AS dropped_tokens
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id ASC NULLS FIRST
""",
    doc="The end of the dedup pipeline: per near-dup cluster (the same"
    " n-gram-Jaccard graph dedup_clusters labels), pick WHICH document"
    " survives — the content-aware policy (keep the longest, tie-break"
    " lowest doc_id) every production dedup applies after clustering,"
    " reported as one governance row per cluster with the token count"
    " the drop saves.  Scale shape: cluster labels come from the"
    " alternating large-star/small-star loop (O(log d) rounds over the"
    " edge list, lineage truncated); the keeper argmax is a partial-"
    "aggregatable struct MAX((n_tokens, -doc_id)) — no per-cluster"
    " window, no second shuffle beyond the one groupBy(cluster_id).  The oracle replays"
    " the same policy over a recursive-CTE closure seeded only from"
    " edge-incident nodes.",
)
def dedup_keeper_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup_clusters_star is the same builder as dedup_clusters (star
    # contraction, O(log d) rounds).
    from sql2all_spark.operators.graph import dedup_clusters_star

    labels = (
        dedup_clusters_star(spark, sf_dir)
        .filter(F.col("cluster_size") >= 2)
        .select("doc_id", "cluster_id")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    j = labels.join(toks, "doc_id")
    per = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.max(
            F.struct(
                F.col("n_tokens").alias("t"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("k"),
        F.sum("n_tokens").cast("long").alias("tot"),
    )
    return per.select(
        "cluster_id",
        "cluster_size",
        (-F.col("k.nid")).cast("long").alias("keeper_doc_id"),
        F.col("k.t").cast("long").alias("keeper_tokens"),
        (F.col("cluster_size") - 1).cast("long").alias("n_dropped"),
        (F.col("tot") - F.col("k.t")).cast("long").alias("dropped_tokens"),
    ).orderBy(F.col("cluster_id").asc_nulls_first())
