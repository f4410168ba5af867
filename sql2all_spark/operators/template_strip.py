"""Template STRIP materialization: apply the keeper policy to the
corpus — the rewrite step after ``text_template_mining`` (enumerate)
and ``text_template_keeper`` (decide).

For every boilerplate family, the canonical span (smallest
(doc_id, span_start) — the keeper query's exact policy) survives;
every OTHER span's words are removed from their documents.  Overlaps
between different families' spans are handled by construction: strip
positions are expanded per covered WORD and unioned (DISTINCT), so a
word claimed by two families is removed once — the per-doc accounting
is exact, not an upper bound.

Output per document (EVERY document — clean docs pass through):
word count before/after, the number of spans stripped, and the
``base_hash`` fingerprint of the REASSEMBLED cleaned text (words
re-joined by single spaces in position order) — the value a downstream
exact-dedup pass would key on, and the strongest cross-engine pin: both
engines must agree on every surviving word and its order.

Scale shape: everything derives from the slim dup-gram hit table
(``template.family_hits`` — doc_id/pos/hash rows, never raw text,
never pair-space); the keeper argmin is the partial-aggregatable
struct-MIN; strip positions explode G words per hit position
(bounded fan-out) and de-dup on (doc, pos); the reassembly joins the
corpus' exploded words against strip positions with an ANTI join on
the 8-byte (doc_id, pos) key and re-aggregates per doc — document text
crosses the reassembly exchange exactly once, as (pos, word) pairs.

Reference parity note: SQL2ALL has no text surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), completing mine -> keep -> STRIP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql2all_spark.cache import materialize_tracked
from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.operators.template import (
    DUP_SPAN_GRAM,
    family_ctes,
    family_hits,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


def strip_chain_ctes() -> str:
    """The full strip WITH-chain BODY (family graph -> runs -> spans ->
    keeper -> strip positions -> reassembled ``cleaned`` docs) — shared
    with the post-strip dedup composition (``operators/strip_dedup.py``)
    so downstream oracles append their own tail instead of slicing the
    assembled SQL (as ``sp_unigram._sp_chain`` does).  Callers open with
    ``WITH RECURSIVE`` (the family closure needs it)."""
    return f"""{family_ctes()},
runs AS (
  SELECT f.family_id, hits.doc_id, hits.pos,
         hits.pos - ROW_NUMBER() OVER (
           PARTITION BY f.family_id, hits.doc_id
           ORDER BY hits.pos ASC) AS grp
  FROM hits JOIN fam f ON f.h = hits.h
),
spans AS (
  SELECT family_id, doc_id, grp, MIN(pos) AS span_start
  FROM runs GROUP BY family_id, doc_id, grp
),
k AS (
  SELECT family_id, doc_id, grp FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY family_id
      ORDER BY doc_id ASC, span_start ASC) AS rn
    FROM spans
  ) WHERE rn = 1
),
strip_runs AS (
  SELECT r.family_id, r.doc_id, r.pos, r.grp
  FROM runs r LEFT JOIN k
    ON k.family_id = r.family_id AND k.doc_id = r.doc_id
   AND k.grp = r.grp
  WHERE k.family_id IS NULL
),
strip_pos AS (
  SELECT DISTINCT doc_id, CAST(pos + i AS BIGINT) AS pos
  FROM strip_runs, UNNEST(range(0, {DUP_SPAN_GRAM})) t(i)
),
strip_spans AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_stripped
  FROM (SELECT DISTINCT family_id, doc_id, grp FROM strip_runs)
  GROUP BY doc_id
),
dwp AS (
  SELECT doc_id, w[CAST(i AS INT)] AS word, CAST(i AS BIGINT) AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(range(1, len(w) + 1)) t(i)
),
kept AS (
  SELECT d.doc_id, d.word, d.pos
  FROM dwp d LEFT JOIN strip_pos s
    ON s.doc_id = d.doc_id AND s.pos = d.pos
  WHERE s.doc_id IS NULL
),
cleaned AS (
  SELECT doc_id, string_agg(word, ' ' ORDER BY pos ASC) AS txt,
         CAST(COUNT(*) AS BIGINT) AS n_after
  FROM kept GROUP BY doc_id
)"""


def _strip_oracle() -> str:
    return f"""
WITH RECURSIVE
{strip_chain_ctes()}
SELECT doc.doc_id,
       CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_words,
       CAST(COALESCE(ss.n_spans_stripped, 0) AS BIGINT)
         AS n_spans_stripped,
       CAST(len(string_split(doc.text, ' '))
            - COALESCE(c.n_after, 0) AS BIGINT) AS n_stripped,
       CAST(COALESCE(c.n_after, 0) AS BIGINT) AS n_after,
       {base_hash_sql("COALESCE(c.txt, '')")} AS cleaned_fp
FROM documents doc
LEFT JOIN cleaned c ON c.doc_id = doc.doc_id
LEFT JOIN strip_spans ss ON ss.doc_id = doc.doc_id
ORDER BY doc.doc_id ASC NULLS FIRST
"""


def cleaned_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(documents, cleaned, strip_spans) — the strip pipeline up to the
    reassembled per-doc cleaned text; shared with the post-strip dedup
    composition so the rewrite has ONE definition.  ``cleaned`` holds
    (doc_id, txt, n_after) for documents that kept at least one word;
    ``strip_spans`` the per-doc stripped-span counts."""
    hits, fam = family_hits(spark, sf_dir)
    # runs feeds the span/keeper derivation AND the anti-join that
    # removes keeper spans — persist the slim frame once.
    runs = hits.join(fam, "h").select(
        "family_id",
        "doc_id",
        "pos",
        (
            F.col("pos").cast("long")
            - F.row_number().over(
                Window.partitionBy("family_id", "doc_id").orderBy(
                    F.col("pos").asc()
                )
            )
        ).alias("grp"),
        # Eager (materialize_tracked): runs sits under the keeper-argmin
        # and strip-set broadcast builds — see cache.materialize_tracked.
    ).transform(materialize_tracked)
    spans = runs.groupBy("family_id", "doc_id", "grp").agg(
        F.min("pos").alias("span_start")
    )
    # keeper argmin by (doc, start) — struct-MIN, map-side combinable;
    # grp rides along to identify the span ((doc, start) is unique
    # within a family, so grp never decides the comparison)
    k = (
        spans.groupBy("family_id")
        .agg(
            F.min(
                F.struct(
                    F.col("doc_id").alias("d"),
                    F.col("span_start").alias("s"),
                    F.col("grp").alias("g"),
                )
            ).alias("k")
        )
        .select(
            "family_id",
            F.col("k.d").alias("doc_id"),
            F.col("k.g").alias("grp"),
        )
    )
    # strip_runs feeds BOTH the per-word positions and the per-doc span
    # counts; persist the slim (family, doc, pos, grp) rows so the two
    # consumers don't each re-derive runs -> anti-join (guide §5:
    # persist only reused, recompute-expensive intermediates).
    strip_runs = runs.join(
        k, ["family_id", "doc_id", "grp"], "left_anti"
    ).transform(materialize_tracked)
    # Per-doc SET of word positions to remove, as one array row per
    # affected doc.  Hit-table-sized: only documents carrying a
    # non-keeper span appear.
    strip_sets = (
        strip_runs.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos").cast("long"),
                    F.col("pos").cast("long") + F.lit(DUP_SPAN_GRAM - 1),
                )
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("sp"))
    )
    strip_spans = (
        strip_runs.select("family_id", "doc_id", "grp")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans_stripped"))
    )
    d = load_table(spark, sf_dir, "documents")
    # Row-local rewrite (guide §2.3 "shuffle keys and metadata instead
    # of payloads", §2.4): the document text joins the slim per-doc
    # strip set once on doc_id — size-gated broadcast at small scale,
    # one text exchange at most on a cluster — and the surviving words
    # are selected by JVM higher-order array functions.  The previous
    # formulation exploded every document into (doc_id, pos, word) rows,
    # anti-joined them against (doc, pos) keys, and re-aggregated with
    # collect_list + array_sort: the full word mass crossed TWO
    # exchanges per run.  Values are identical: kept words in position
    # order re-joined by single spaces; a doc with no strip rows keeps
    # its text verbatim (sp NULL branch); a doc whose every word is
    # stripped now yields an explicit ('', 0) row where the aggregation
    # formulation omitted the row — every consumer COALESCEs through a
    # left join, so the frames are interchangeable (and '' hashes
    # identically to the oracle's COALESCE(c.txt, '')).
    kept_words = F.when(
        F.col("sp").isNull(), F.split(F.col("text"), " ")
    ).otherwise(
        F.expr(
            "transform(filter(transform(split(text, ' '),"
            " (x, i) -> struct(x AS w, CAST(i + 1 AS BIGINT) AS p)),"
            " s -> NOT array_contains(sp, s.p)), s -> s.w)"
        )
    )
    cleaned = (
        d.select("doc_id", "text")
        .join(strip_sets, "doc_id", "left")
        .withColumn("kw", kept_words)
        .select(
            "doc_id",
            F.array_join(F.col("kw"), " ").alias("txt"),
            F.size(F.col("kw")).cast("long").alias("n_after"),
        )
    )
    return d, cleaned, strip_spans


@register(
    "text_template_strip",
    oracle=_strip_oracle(),
    doc="Template STRIP — the corpus rewrite after mining (enumerate)"
    " and keeper (decide): every non-keeper span's words are removed,"
    " cross-family overlaps unioned per word position (DISTINCT on the"
    " (doc, pos) key, so the accounting is exact), and every document"
    " reports words before/after, spans stripped, and the base_hash"
    " fingerprint of the REASSEMBLED cleaned text — the strongest"
    " cross-engine pin (both engines must agree on every surviving"
    " word and its order) and the key a downstream exact-dedup pass"
    " consumes.  Pair-free throughout: hit-table-sized until the one"
    " anti-join of exploded corpus words against slim (doc, pos)"
    " strip keys.",
)
def text_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, cleaned, strip_spans = cleaned_corpus(spark, sf_dir)
    n_words = F.size(F.split("text", " ")).cast("long")
    return (
        d.select("doc_id", n_words.alias("n_words"))
        .join(cleaned, "doc_id", "left")
        .join(strip_spans, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("n_spans_stripped"), F.lit(0))
            .cast("long")
            .alias("n_spans_stripped"),
            (F.col("n_words") - F.coalesce(F.col("n_after"), F.lit(0)))
            .cast("long")
            .alias("n_stripped"),
            F.coalesce(F.col("n_after"), F.lit(0))
            .cast("long")
            .alias("n_after"),
            base_hash(F.coalesce(F.col("txt"), F.lit(""))).alias(
                "cleaned_fp"
            ),
        )
        .orderBy(F.col("doc_id").asc_nulls_first())
    )
