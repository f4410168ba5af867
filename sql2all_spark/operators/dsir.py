"""Quality-classifier composite + importance RESAMPLING (DSIR-style),
the end-to-end "curate by learned quality" step (VERDICT r9 #5).

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") scores every raw document against a target
quality distribution and draws a weight-proportional sample without
replacement (Gumbel-top-k ≡ the Efraimidis–Spirakis A-ES keys this repo
already ships in ``operators/reservoir.py``).  This operator composes
the repo's existing quality signals into one per-document importance
weight and resamples:

- length gate + punctuation/stopword ratios (``text_quality_score``),
- intra-doc repetition (``text_repetition_score``, Gopher rule),
- unigram-LM perplexity band (``text_unigram_lm_score``, KenLM stand-in),
- language ID (``text_language_id`` markers).

Plan shape — deliberately BETTER than joining the four registered
builders: every signal except the LM score is row-local, so they fuse
into ONE projection over a single documents scan (re-deriving via the
same text.py helpers); the LM frame is the only corpus-aggregating
signal and arrives through the operator's ONE doc_id join.  There is no
corpus self-join anywhere; the final top-K is a bounded heap
(TakeOrderedAndProject), never a global sort.

Determinism: the weight is pure INTEGER arithmetic over floors of
doubles both engines compute bit-identically (ratios of integer counts,
6dp-rounded LM scores); A-ES uniforms come from the md5 hash recipe.
The raw weight spans [1, 2e10], which would crush ``ln(u)/w`` below the
9dp rounding grid, so keys are computed as ``ln(u) * 1e6 / w`` — a
global weight rescale, under which A-ES rankings are INVARIANT (scaling
every weight by c maps each key u^(1/w) to u^(1/(cw)) = key^(1/c), a
monotone transformation; pinned in tests/test_invariants.py).

Docs with fewer than 3 tokens are excluded on both engines (the
repetition signal is undefined below one trigram).

Reference parity note: SQL2ALL has no curation surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); this belongs to the
LLM-pipeline extension family (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.registry import _REGISTRY, register
from sql2all_spark.tables import load_table

# signal machinery shared with the standalone operators (same module
# family; streaming/jobs.py imports dedup internals the same way)
from sql2all_spark.operators import text as _text  # noqa: E402
from sql2all_spark.operators.text import (  # noqa: E402
    ENGLISH_STOPWORDS,
    LANG_MARKERS,
    _marker_hits,
    _marker_hits_sql,
    _split_words,
)

DSIR_K = 100  # resample size
_SEED = "dsir9:"  # A-ES uniform hash domain
_TWO60 = float(1 << 60)
LM_TARGET = 7.5  # center of the accepted perplexity band (avg -log p)
STOP_TARGET = 0.4  # English-prose stopword-ratio center


def _lang_case_sql() -> str:
    hits = {ln: _marker_hits_sql(LANG_MARKERS[ln]) for ln in LANG_MARKERS}
    return f"""CASE GREATEST({hits['en']}, {hits['es']}, {hits['fr']},
                     {hits['de']}, {hits['zh']})
         WHEN 0 THEN 'unknown'
         WHEN {hits['en']} THEN 'en'
         WHEN {hits['es']} THEN 'es'
         WHEN {hits['fr']} THEN 'fr'
         WHEN {hits['de']} THEN 'de'
         ELSE 'zh' END"""


def _dsir_oracle() -> str:
    lm_sql = _REGISTRY["text_unigram_lm_score"].oracle
    h = base_hash_sql(f"'{_SEED}' || CAST(doc_id AS VARCHAR)")
    u = f"(CAST({h} AS DOUBLE) + 1) / {_TWO60!r}"
    return f"""
WITH lm AS (SELECT doc_id, avg_neglogp FROM ({lm_sql})),
sig AS (
  SELECT doc_id,
         CASE WHEN LENGTH(text) BETWEEN 100 AND 20000
               AND len(string_split(text, ' ')) >= 10
              THEN 1 ELSE 0 END AS gate,
         ROUND(1.0 - CAST(len(list_distinct(list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1] || ' ' ||
                      string_split(text, ' ')[i+2]))) AS DOUBLE)
               / len(list_transform(
                 range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i])), 6) AS repetition,
         CAST({_marker_hits_sql(ENGLISH_STOPWORDS)} AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio,
         {_lang_case_sql()} AS pred_lang
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
w AS (
  SELECT s.doc_id,
         (9 * gate + 1)
         * GREATEST(1, 1000 - CAST(FLOOR(repetition * 1000) AS BIGINT))
         * GREATEST(1, 1000 - CAST(FLOOR(ABS(stop_ratio - {STOP_TARGET})
                                         * 2000) AS BIGINT))
         * GREATEST(1, 1000 - LEAST(1000,
             CAST(FLOOR(ABS(lm.avg_neglogp - {LM_TARGET}) * 250) AS BIGINT)))
         * (CASE WHEN pred_lang = 'en' THEN 2 ELSE 1 END) AS weight
  FROM sig s JOIN lm ON lm.doc_id = s.doc_id
),
keyed AS (
  SELECT doc_id, weight,
         ROUND(LN({u}) * 1000000.0 / CAST(weight AS DOUBLE), 9) AS key
  FROM w
),
top AS (
  SELECT doc_id, weight, key
  FROM keyed
  ORDER BY key DESC NULLS LAST, doc_id ASC NULLS FIRST
  LIMIT {DSIR_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS INT)
         AS rank,
       doc_id, CAST(weight AS BIGINT) AS weight, key
FROM top
ORDER BY rank ASC NULLS FIRST
"""


@register(
    "text_importance_resample",
    oracle=_dsir_oracle(),
    doc=f"DSIR-style importance resampling (Xie et al. 2023): composite"
    " integer quality weight (length gate x repetition x stopword-band x"
    " unigram-LM perplexity band x language multiplier) and an A-ES"
    f" weight-proportional top-{DSIR_K} sample without replacement."
    "  Scale shape: all row-local signals fuse into ONE documents scan;"
    " the LM score is the single doc_id join (no corpus self-join); keys"
    " are row-local md5 uniforms; the global top-K is a bounded heap."
    "  Weight arithmetic is all-integer over bit-identical doubles; the"
    " 1e6 key rescale is A-ES-order-invariant (monotone per-item map).",
)
def text_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from sql2all_spark.functions.ngram_lm import unigram_doc_scores

    toks = _split_words(F.col("text"))
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    trigrams = F.transform(
        F.sequence(F.lit(1), n_tokens - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    hits = {ln: _marker_hits(toks, LANG_MARKERS[ln]) for ln in LANG_MARKERS}
    best = F.greatest(*hits.values())
    pred_lang = (
        F.when(best == 0, "unknown")
        .when(hits["en"] == best, "en")
        .when(hits["es"] == best, "es")
        .when(hits["fr"] == best, "fr")
        .when(hits["de"] == best, "de")
        .otherwise("zh")
    )
    # row-local signals CARRY through the LM scorer's per-doc aggregation
    # (first()-reduced map-side, so the exchange stays per-doc slim):
    # 3 documents scans + a doc_id join -> 2 scans, join-free (r13 rewrite;
    # values identical — same expressions, same inner-join row set, since
    # the doc_filter reproduces sig's n_tokens >= 3 gate)
    scored = unigram_doc_scores(
        spark,
        sf_dir,
        carry={
            "gate": F.when(n_chars.between(100, 20000) & (n_tokens >= 10), 1)
            .otherwise(0),
            "repetition": F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(trigrams)).cast("double")
                / F.size(trigrams),
                6,
            ),
            "stop_ratio": _marker_hits(toks, ENGLISH_STOPWORDS).cast("double")
            / n_tokens,
            "pred_lang": pred_lang,
        },
        doc_filter=n_tokens >= 3,
    )
    weight = (
        (F.lit(9) * F.col("gate") + 1).cast("long")
        * F.greatest(
            F.lit(1).cast("long"),
            F.lit(1000)
            - F.floor(F.col("repetition") * 1000).cast("long"),
        )
        * F.greatest(
            F.lit(1).cast("long"),
            F.lit(1000)
            - F.floor(F.abs(F.col("stop_ratio") - STOP_TARGET) * 2000).cast(
                "long"
            ),
        )
        * F.greatest(
            F.lit(1).cast("long"),
            F.lit(1000)
            - F.least(
                F.lit(1000).cast("long"),
                F.floor(
                    F.abs(F.col("avg_neglogp") - LM_TARGET) * 250
                ).cast("long"),
            ),
        )
        * F.when(F.col("pred_lang") == "en", 2).otherwise(1).cast("long")
    )
    u = (
        base_hash(F.concat(F.lit(_SEED), F.col("doc_id").cast("string"))).cast(
            "double"
        )
        + 1
    ) / F.lit(_TWO60)
    keyed = (
        scored.select("doc_id", weight.alias("weight"))
        .select(
            "doc_id",
            "weight",
            F.round(
                F.log(u) * 1000000.0 / F.col("weight").cast("double"), 9
            ).alias("key"),
        )
    )
    top = keyed.orderBy(
        F.col("key").desc_nulls_last(), F.col("doc_id").asc_nulls_first()
    ).limit(DSIR_K)
    # rank window runs over the ALREADY-LIMITED K rows (one tiny task),
    # the vocab_coverage precedent — never a global window
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", F.col("weight").cast("long").alias("weight"), "key")
        .orderBy(F.col("rank").asc_nulls_first())
    )
