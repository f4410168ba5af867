"""Quality-aware keeper selection for post-strip duplicate groups —
the SELECT-which-copy-survives leg that completes this round's arc:
mine -> keep -> strip -> dedup -> KEEPER.

``dedup_post_strip`` finds groups of documents whose bodies are
identical once boilerplate is stripped.  The members of such a group
are NOT identical raw documents — they differ exactly in their
template content — so "keep the lowest doc_id" (dedup_exact's naive
policy) throws away information: production pipelines keep the
highest-QUALITY rendition (FineWeb/DCLM keep the best-scoring copy
when collapsing near-identical pages).  This operator applies that
policy: per post-strip group, keeper = argmax trained-classifier score
(tiebreak lowest doc_id), reported against the naive min-doc_id choice
so the governance table shows exactly where quality-aware selection
changes the outcome (``keeper_differs``).

Note the policy is only meaningful on POST-strip groups: the
classifier's features are purely text-derived, so raw exact-dedup
group members score identically and the argmax degenerates to the
doc_id tiebreak — here members differ in raw text, and the scores
genuinely rank them.

Composition (ONE definition each): the rewrite is
``template_strip.cleaned_corpus``; scoring is ``clf_core`` stored
weights (zero training jobs warm); ``_w_chain_sql(with_kw=False)``
appends the GD chain structurally inside the strip chain's
WITH RECURSIVE list.

Determinism: p_fx is an exact fixed-point integer; the argmax
tiebreaks on doc_id; all outputs exact integers; ORDER BY pinned.

Scale shape: the strip chain + one row-local scoring scan of the
persisted feature frame; the keeper argmax is a partial-aggregatable
struct MAX((p_fx, -doc_id)) — no per-group window on the Spark side
(the dedup_keeper_select precedent; the oracle uses the windowed
replay), one shuffle keyed on the 8-byte cleaned fingerprint.

Reference parity note: SQL2ALL has no text/ML surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.clf_core import (
    CLF_ROUNDS,
    _Z_W_SQL,
    _feats,
    _p_fx,
    _p_fx_sql,
    _w_chain_sql,
    _z,
    trained_weights,
)
from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.operators.template_strip import (
    cleaned_corpus,
    strip_chain_ctes,
)
from sql2all_spark.registry import register


def _strip_keeper_oracle() -> str:
    return f"""
WITH RECURSIVE
{strip_chain_ctes()},
{_w_chain_sql(with_acc=False, with_kw=False)},
scored AS (
  SELECT f.doc_id, {_p_fx_sql(_Z_W_SQL)} AS p_fx
  FROM feats f, w{CLF_ROUNDS} w
),
perdoc AS (
  SELECT doc.doc_id, s.p_fx,
         {base_hash_sql("COALESCE(c.txt, '')")} AS cleaned_fp
  FROM documents doc
  LEFT JOIN cleaned c ON c.doc_id = doc.doc_id
  JOIN scored s ON s.doc_id = doc.doc_id
),
grp AS (
  SELECT * FROM perdoc
  WHERE cleaned_fp IN (
    SELECT cleaned_fp FROM perdoc GROUP BY cleaned_fp HAVING COUNT(*) >= 2
  )
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cleaned_fp
                               ORDER BY p_fx DESC, doc_id ASC) AS rn
  FROM grp
)
SELECT cleaned_fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
         AS keeper_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN p_fx END) AS BIGINT) AS keeper_score,
       CAST(MIN(doc_id) AS BIGINT) AS naive_keeper_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) <> MIN(doc_id)
            AS INTEGER) AS keeper_differs,
       CAST(SUM(p_fx) - MAX(CASE WHEN rn = 1 THEN p_fx END) AS BIGINT)
         AS dropped_score_mass
FROM rk
GROUP BY cleaned_fp
ORDER BY n_docs DESC NULLS LAST, cleaned_fp ASC NULLS FIRST
"""


@register(
    "dedup_post_strip_keeper",
    oracle=_strip_keeper_oracle(),
    doc="Quality-aware keeper selection over the post-strip duplicate"
    " groups: per group of body-identical documents, keep the rendition"
    " with the highest trained-classifier score (argmax p_fx, doc_id"
    " tiebreak) instead of the naive lowest doc_id — the"
    " keep-the-best-copy policy production dedup applies — reported"
    " with the naive choice and a keeper_differs flag showing exactly"
    " where quality selection changes the outcome.  Spark keeper is a"
    " partial-aggregatable struct MAX((p_fx, -doc_id)) — no per-group"
    " window (dedup_keeper_select precedent); weights re-enter as"
    " literals via the session store (zero training jobs warm).",
)
def dedup_post_strip_keeper(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d, cleaned, _spans = cleaned_corpus(spark, sf_dir)
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = trained_weights(feats, sf_dir)
    scored = feats.select("doc_id", _p_fx(_z(w)).alias("p_fx"))
    perdoc = (
        d.select("doc_id")
        .join(cleaned.select("doc_id", "txt"), "doc_id", "left")
        .join(scored, "doc_id")
        .select(
            "doc_id",
            "p_fx",
            base_hash(F.coalesce(F.col("txt"), F.lit(""))).alias(
                "cleaned_fp"
            ),
        )
    )
    per = perdoc.groupBy("cleaned_fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max(
            F.struct(
                F.col("p_fx").alias("s"),
                (-F.col("doc_id")).alias("nid"),
            )
        ).alias("k"),
        F.min("doc_id").cast("long").alias("naive_keeper_doc_id"),
        F.sum("p_fx").cast("long").alias("score_mass"),
    )
    return (
        per.filter(F.col("n_docs") >= 2)
        .select(
            "cleaned_fp",
            "n_docs",
            (-F.col("k.nid")).cast("long").alias("keeper_doc_id"),
            F.col("k.s").cast("long").alias("keeper_score"),
            "naive_keeper_doc_id",
            (
                (-F.col("k.nid")) != F.col("naive_keeper_doc_id")
            )
            .cast("int")
            .alias("keeper_differs"),
            (F.col("score_mass") - F.col("k.s"))
            .cast("long")
            .alias("dropped_score_mass"),
        )
        .orderBy(
            F.col("n_docs").desc_nulls_last(),
            F.col("cleaned_fp").asc_nulls_first(),
        )
    )
