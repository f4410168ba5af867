"""Shared unigram-LM document scorer (non-registering).

``operators/text.py`` registers the per-doc query
(``text_unigram_lm_score``) and ``operators/ccnet.py`` composes the
same scorer into CCNet perplexity bucketing.  The ONE definition of
the scorer lives here, where nothing registers.

Semantics (KenLM-filter stand-in): two corpus passes — token counts →
top-V vocabulary with MLE probabilities, broadcast back; per-token
scores are fixed-point BIGINTs (FLOOR(1e6·-ln p + 0.5)) so doc sums
are exact and order-free in both engines; OOV backs off to 1/total.

TOKEN-HASH DOMAIN (r14, VERDICT r13 #6 — the contamination-shingle
trick): every token is mapped row-locally to a 32-bit md5 bucket
``th = base_hash(token) % 2^32`` BEFORE any exchange, so both the
count shuffle and the per-doc score rows carry fixed 8-byte ints
instead of variable-length strings (~halves the exchange key width on
prose, and the broadcast vocabulary becomes a primitive long→long
map).  The vocabulary top-V tiebreak moves with it: (count DESC,
th ASC) — in the HASH domain on BOTH engines, so results stay
bit-identical.  Collision semantics: two tokens in one bucket pool
their counts and share a score — deterministic (same md5 both sides)
and statistically negligible at 2^32 buckets for any real vocabulary
(expected collisions ≈ V²/2^33; at V=4096 that is ~2e-3 buckets).
The md5-per-token CPU this adds is row-local scan work; the bytes it
removes are shuffle — the right trade at 100 TB where the count
exchange is the operator's only corpus-wide shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.tables import load_table

UNIGRAM_VOCAB = 4096
UNIGRAM_SCALE = 1_000_000
UNIGRAM_TOKEN_BUCKETS = 1 << 32  # 32-bit token-hash domain (see docstring)

UNIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
t2 AS (
  SELECT doc_id, {base_hash_sql("token")} % {UNIGRAM_TOKEN_BUCKETS} AS th
  FROM toks WHERE token <> ''
),
counts AS (
  SELECT th, COUNT(*) AS c FROM t2 GROUP BY th
),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS t FROM counts
),
vocab AS (
  SELECT th, c FROM counts
  ORDER BY c DESC NULLS LAST, th ASC NULLS FIRST
  LIMIT {UNIGRAM_VOCAB}
),
scored AS (
  SELECT th,
         CAST(FLOOR({UNIGRAM_SCALE}.0 * -LN(CAST(c AS DOUBLE) / t) + 0.5)
              AS BIGINT) AS s
  FROM vocab, tot
),
doc AS (
  SELECT t2.doc_id,
         CASE WHEN sc.th IS NULL THEN 1 ELSE 0 END AS is_oov,
         COALESCE(sc.s,
                  CAST(FLOOR({UNIGRAM_SCALE}.0 * -LN(1.0 / t) + 0.5)
                       AS BIGINT)) AS s_scaled
  FROM t2 CROSS JOIN tot LEFT JOIN scored sc ON t2.th = sc.th
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(is_oov) AS BIGINT) AS n_oov,
       CAST((2 * SUM(s_scaled) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {UNIGRAM_SCALE}.0 AS avg_neglogp
FROM doc GROUP BY doc_id
"""


# Columns the scorer itself produces or uses internally; carry keys must
# be disjoint or column resolution breaks inside the plan.
_RESERVED_COLUMNS = frozenset(
    {
        "token",
        "th",
        "s",
        "t",
        "c",
        "is_oov",
        "s_scaled",
        "n_tokens",
        "n_oov",
        "avg_neglogp",
        "doc_id",
        "_ulm_toks",
        "text",
    }
)


def unigram_doc_scores(
    spark, sf_dir: str, carry: dict | None = None, doc_filter=None
) -> DataFrame:
    """(doc_id, *carry, n_tokens, n_oov, avg_neglogp) — see module docstring.

    ``carry`` maps output column names to row-local Column expressions over
    the documents scan (evaluated BEFORE the token explode); they ride the
    per-doc aggregation as ``first()`` — constant per doc, so they reduce
    map-side with the partial agg and the exchange stays per-doc slim.
    ``doc_filter`` restricts the PER-DOC side only; corpus statistics
    (token counts → vocabulary) always come from the full corpus.
    Composing row-local signals this way costs ZERO extra scans and ZERO
    joins versus the bare scorer (the r13 ``text_importance_resample``
    rewrite: 3 documents scans + a doc_id join → 2 scans, join-free).
    """
    from sql2all_spark.spread import spread_fanout

    # §2.5 re-spread ONCE for both passes (the count pass's explode+hash
    # and the per-doc pass's carry expressions — the DSIR trigram
    # transform is the single heaviest row-local projection in the repo):
    # the fixture scan is one unsplittable row group, so both passes ran
    # single-task.  No-op on multi-split layouts; every consumer's sums
    # are fixed-point integers (order-independent).
    d = spread_fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # Token-hash projection happens row-locally on the exploded scalar,
    # BEFORE any exchange (module docstring): the count shuffle and the
    # score rows carry 8-byte ints, never token strings.
    th_of = lambda c: base_hash(c) % F.lit(UNIGRAM_TOKEN_BUCKETS)  # noqa: E731
    toks = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .select("doc_id", th_of(F.col("token")).alias("th"))
    )
    counts = (
        toks.groupBy("th")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(persist_tracked)
    )
    # Corpus token total: derived LAZILY as a 1-row aggregate broadcast
    # onto both consumers (the sim_neardup_pairs ppb pattern) — plan
    # construction runs no job, and the total reflects the corpus at
    # execution time, not build time (ADVICE r8).  The aggregate reads
    # the already-persisted (hash, count) table, not the corpus.
    tot = counts.agg(F.sum("c").cast("double").alias("t"))
    vocab = counts.orderBy(
        F.col("c").desc_nulls_last(), F.col("th").asc_nulls_first()
    ).limit(UNIGRAM_VOCAB)
    scale = F.lit(float(UNIGRAM_SCALE))
    scored = vocab.join(F.broadcast(tot), F.lit(True)).select(
        "th",
        F.floor(
            scale * -F.log(F.col("c").cast("double") / F.col("t"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("s"),
    )
    oov_score = F.floor(
        scale * -F.log(F.lit(1.0) / F.col("t")) + F.lit(0.5)
    ).cast("long")
    carry = carry or {}
    # A carry key colliding with the scorer's internal or output columns
    # would surface as an AnalysisException (or worse, silent ambiguous
    # resolution) deep in the plan; fail fast with a clear error instead
    # (ADVICE r13).
    reserved = _RESERVED_COLUMNS & set(carry)
    if reserved:
        raise ValueError(
            f"carry keys collide with unigram-scorer columns: {sorted(reserved)}"
        )
    if carry or doc_filter is not None:
        side = d.filter(doc_filter) if doc_filter is not None else d
        # carry exprs MUST evaluate in their own projection BELOW the
        # explode: `select(heavy_expr, explode(c))` resolves via
        # ExtractGenerator to Project[heavy_expr] ABOVE Generate — the
        # expression would run once per TOKEN row (measured: a >50x
        # blowup on the DSIR trigram transform), not once per doc
        base = side.select(
            "doc_id",
            *(expr.alias(k) for k, expr in carry.items()),
            F.split(F.col("text"), " ").alias("_ulm_toks"),
        )
        doc_toks = (
            base.select(
                "doc_id",
                *carry.keys(),
                F.explode("_ulm_toks").alias("token"),
            )
            .filter(F.col("token") != "")
            .select("doc_id", *carry.keys(), th_of(F.col("token")).alias("th"))
        )
    else:
        doc_toks = toks
    doc = (
        doc_toks.join(F.broadcast(scored), "th", "left")
        .join(F.broadcast(tot), F.lit(True))
        .select(
            "doc_id",
            *carry.keys(),
            F.when(F.col("s").isNull(), 1).otherwise(0).alias("is_oov"),
            F.coalesce(F.col("s"), oov_score).alias("s_scaled"),
        )
    )
    return doc.groupBy("doc_id").agg(
        *(F.first(k).alias(k) for k in carry),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").cast("long").alias("n_oov"),
        # avg quantized via EXACT integer half-up — round(S/n, 6) as
        # (2S + n) div (2n), identical integer arithmetic in both
        # engines (the kn_trigram.py pattern; ROUND(double, 6) on a
        # fixed-point sum is a REAL halfway hazard — NOTES.md TRAP r15;
        # conversion proven value-neutral on all four fixture SFs).
        (
            F.expr(
                "(2 * sum(s_scaled) + count(1)) div (2 * count(1))"
            ).cast("double")
            / scale
        ).alias("avg_neglogp"),
    )
