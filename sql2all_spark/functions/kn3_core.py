"""Shared interpolated-KN TRIGRAM scorer core (non-registering module).

``operators/kn_trigram.py`` registers the per-document scoring query;
``operators/kn_ccnet.py`` composes the same scorer into CCNet-style
per-language perplexity buckets.  The count-table chain, the bounded
serving model, and the per-doc score builder live HERE, where nothing
registers, so both operators share one definition.

Everything below moved VERBATIM from ``operators/kn_trigram.py`` (see
that module's docstring for the model derivation, the three-way int64
packing, and the fixed-point determinism rules); the assembled oracle
text in kn_trigram is byte-identical to its r15 form (sf1 oracle-cache
stability), pinned by ``tests/test_invariants.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import materialize_tracked
from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.tables import load_table

KN3_TOKEN_BITS = 20  # 20-bit buckets: three pack into one int64 (< 2^60)
KN3_D = 0.75  # absolute discount, both levels (exact double literal)
KN3_VOCAB = 4096  # per-table serving-model rows kept
KN3_TOP = 512  # fully-interpolated trigram cells kept
KN3_SCALE = 1_000_000  # fixed-point -ln p scale

_B1 = 1 << KN3_TOKEN_BITS  # w3 stride
_B2 = 1 << (2 * KN3_TOKEN_BITS)  # w2 stride / bigram-suffix modulus


def kn3_chain_ctes() -> str:
    """The full count-table + serving-model + per-position WITH-chain
    BODY (``d`` .. ``tok``) — callers append their own per-doc tail
    (kn_trigram's GROUP BY doc_id; kn_ccnet's NTILE bucketing).
    Structural composition, not string surgery (the sp_loop ADVICE-r15
    lesson)."""
    th = f"{base_hash_sql('t')} % {_B1}"
    return f"""d AS (
  SELECT doc_id,
         list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                        t -> {th}) AS th
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= 3
),
pr AS (
  SELECT doc_id, th[i - 2] * {_B2} + th[i - 1] * {_B1} + th[i] AS tg
  FROM (SELECT doc_id, th, UNNEST(range(3, len(th) + 1)) AS i FROM d)
),
tc AS (
  SELECT tg, COUNT(*) AS c123 FROM pr GROUP BY tg
),
ctx AS (
  SELECT tg // {_B1} AS u12,
         CAST(SUM(c123) AS DOUBLE) AS c12d,
         CAST(COUNT(*) AS DOUBLE) AS n1fd,
         CAST(SUM(c123) AS BIGINT) AS c12
  FROM tc GROUP BY tg // {_B1}
),
mid AS (
  SELECT tg % {_B2} AS v23, CAST(COUNT(*) AS DOUBLE) AS n1md,
         CAST(COUNT(*) AS BIGINT) AS n1m
  FROM tc GROUP BY tg % {_B2}
),
midctx AS (
  SELECT v23 // {_B1} AS w2,
         CAST(SUM(n1m) AS DOUBLE) AS den2,
         CAST(COUNT(*) AS DOUBLE) AS n1fmd,
         CAST(SUM(n1m) AS BIGINT) AS den2i
  FROM mid GROUP BY v23 // {_B1}
),
cont AS (
  SELECT v23 % {_B1} AS w3, CAST(COUNT(*) AS DOUBLE) AS n1bd,
         CAST(COUNT(*) AS BIGINT) AS n1b
  FROM mid GROUP BY v23 % {_B1}
),
nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM mid),
ttop AS (
  SELECT tg, c123 FROM tc
  ORDER BY c123 DESC NULLS LAST, tg ASC NULLS FIRST
  LIMIT {KN3_TOP}
),
ctx_top AS (
  SELECT u12, c12d, n1fd FROM ctx
  ORDER BY c12 DESC NULLS LAST, u12 ASC NULLS FIRST
  LIMIT {KN3_VOCAB}
),
mid_top AS (
  SELECT v23, n1md FROM mid
  ORDER BY n1m DESC NULLS LAST, v23 ASC NULLS FIRST
  LIMIT {KN3_VOCAB}
),
midctx_top AS (
  SELECT w2, den2, n1fmd FROM midctx
  ORDER BY den2i DESC NULLS LAST, w2 ASC NULLS FIRST
  LIMIT {KN3_VOCAB}
),
cont_top AS (
  SELECT w3, n1b FROM cont
  ORDER BY n1b DESC NULLS LAST, w3 ASC NULLS FIRST
  LIMIT {KN3_VOCAB}
),
tscored AS (
  SELECT t.tg,
         CAST(FLOOR({KN3_SCALE}.0 * -LN(
                ((CAST(t.c123 AS DOUBLE) - {KN3_D}) / cx.c12d)
                + ((({KN3_D} * cx.n1fd) / cx.c12d)
                   * (((m.n1md - {KN3_D}) / mc.den2)
                      + ((({KN3_D} * mc.n1fmd) / mc.den2)
                         * (cn.n1bd / nt.nd))))
              ) + 0.5) AS BIGINT) AS s_tri
  FROM ttop t
  JOIN ctx cx ON cx.u12 = t.tg // {_B1}
  JOIN mid m ON m.v23 = t.tg % {_B2}
  JOIN midctx mc ON mc.w2 = (t.tg // {_B1}) % {_B1}
  JOIN cont cn ON cn.w3 = t.tg % {_B1}
  CROSS JOIN nt
),
tok AS (
  SELECT pr.doc_id,
         CASE WHEN ts.s_tri IS NOT NULL THEN 1 ELSE 0 END AS model_hit,
         CASE WHEN ts.s_tri IS NOT NULL THEN ts.s_tri
              ELSE CAST(FLOOR({KN3_SCALE}.0 * -LN(
                     (CASE WHEN cx.u12 IS NOT NULL
                           THEN (({KN3_D} * cx.n1fd) / cx.c12d)
                           ELSE 1.0 END)
                     * (CASE WHEN m.v23 IS NOT NULL AND mc.w2 IS NOT NULL
                             THEN ((m.n1md - {KN3_D}) / mc.den2)
                                  + ((({KN3_D} * mc.n1fmd) / mc.den2)
                                     * (CAST(COALESCE(cn.n1b, 1) AS DOUBLE)
                                        / nt.nd))
                             ELSE (CASE WHEN mc.w2 IS NOT NULL
                                        THEN (({KN3_D} * mc.n1fmd) / mc.den2)
                                        ELSE 1.0 END)
                                  * (CAST(COALESCE(cn.n1b, 1) AS DOUBLE)
                                     / nt.nd) END)
                   ) + 0.5) AS BIGINT)
         END AS s
  FROM pr
  CROSS JOIN nt
  LEFT JOIN tscored ts ON ts.tg = pr.tg
  LEFT JOIN ctx_top cx ON cx.u12 = pr.tg // {_B1}
  LEFT JOIN mid_top m ON m.v23 = pr.tg % {_B2}
  LEFT JOIN midctx_top mc ON mc.w2 = (pr.tg // {_B1}) % {_B1}
  LEFT JOIN cont_top cn ON cn.w3 = pr.tg % {_B1}
)"""


# per-doc tail shared by kn_trigram's oracle (appended after the chain)
KN3_DOC_SELECT = f"""SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(model_hit) AS BIGINT) AS n_model_hits,
       CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {KN3_SCALE}.0 AS avg_neglogp
FROM tok GROUP BY doc_id"""


def kn3_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document interpolated-KN trigram scores: (doc_id, n_trigrams,
    n_model_hits, avg_neglogp).  The kn_trigram.py builder, verbatim."""
    from sql2all_spark.spread import spread_fanout

    d = load_table(spark, sf_dir, "documents")
    # §2.5 re-spread: tokenize + per-token hash + trigram pack is the
    # scan-side CPU mass and the fixture scan is one unsplittable row
    # group (measured two 0.66 s single-task jobs); no-op on
    # multi-split layouts.  All downstream sums are fixed-point ints.
    w = spread_fanout(d.select("doc_id", "text")).select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), " "), lambda tok: tok != F.lit("")
        ).alias("w"),
    ).filter(F.size("w") >= 3)
    t = w.select(
        "doc_id",
        F.transform("w", lambda tok: base_hash(tok) % F.lit(_B1)).alias("th"),
    )
    tgs = F.transform(
        F.sequence(F.lit(3), F.size("th")),
        lambda i: F.element_at(F.col("th"), i - 2) * F.lit(_B2)
        + F.element_at(F.col("th"), i - 1) * F.lit(_B1)
        + F.element_at(F.col("th"), i),
    )
    # explode INLINE in one select (a two-step explode re-evaluates the
    # packed projection per OUTPUT element — the text.py measurement)
    pr = t.select("doc_id", F.explode(tgs).alias("tg")).transform(
        materialize_tracked
    )
    tc = (
        pr.groupBy("tg")
        .agg(F.count(F.lit(1)).alias("c123"))
        .transform(materialize_tracked)
    )
    # ctx / midctx / cont are each consumed TWICE (the tscored build and
    # their own *_top broadcast) and their lineage is a full aggregation
    # over the persisted tc/mid — without a persist the concurrent
    # broadcast-build jobs re-ran each aggregation (profiled: five
    # 1.3-1.9 s jobs re-grouping tc at the head of every scorer run).
    # Guide §5: reused + expensive to recompute.
    ctx = (
        tc.groupBy(F.expr(f"tg div {_B1}").alias("u12"))
        .agg(
            F.sum("c123").cast("double").alias("c12d"),
            F.count(F.lit(1)).cast("double").alias("n1fd"),
            F.sum("c123").cast("long").alias("c12"),
        )
        .transform(materialize_tracked)
    )
    mid = (
        tc.groupBy((F.col("tg") % F.lit(_B2)).alias("v23"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n1md"),
            F.count(F.lit(1)).cast("long").alias("n1m"),
        )
        .transform(materialize_tracked)
    )
    midctx = (
        mid.groupBy(F.expr(f"v23 div {_B1}").alias("w2"))
        .agg(
            F.sum("n1m").cast("double").alias("den2"),
            F.count(F.lit(1)).cast("double").alias("n1fmd"),
            F.sum("n1m").cast("long").alias("den2i"),
        )
        .transform(materialize_tracked)
    )
    cont = (
        mid.groupBy((F.col("v23") % F.lit(_B1)).alias("w3"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n1bd"),
            F.count(F.lit(1)).cast("long").alias("n1b"),
        )
        .transform(materialize_tracked)
    )
    nt = mid.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    ttop = tc.orderBy(
        F.col("c123").desc_nulls_last(), F.col("tg").asc_nulls_first()
    ).limit(KN3_TOP)
    ctx_top = (
        ctx.orderBy(
            F.col("c12").desc_nulls_last(), F.col("u12").asc_nulls_first()
        )
        .limit(KN3_VOCAB)
        .select("u12", "c12d", "n1fd")
    )
    mid_top = (
        mid.orderBy(
            F.col("n1m").desc_nulls_last(), F.col("v23").asc_nulls_first()
        )
        .limit(KN3_VOCAB)
        .select("v23", "n1md")
    )
    midctx_top = (
        midctx.orderBy(
            F.col("den2i").desc_nulls_last(), F.col("w2").asc_nulls_first()
        )
        .limit(KN3_VOCAB)
        .select("w2", "den2", "n1fmd")
    )
    cont_top = (
        cont.orderBy(
            F.col("n1b").desc_nulls_last(), F.col("w3").asc_nulls_first()
        )
        .limit(KN3_VOCAB)
        .select("w3", "n1b")
    )
    d_lit = F.lit(KN3_D)
    scale = F.lit(float(KN3_SCALE))
    tscored = (
        ttop.join(
            ctx.select("u12", "c12d", "n1fd"),
            ctx["u12"] == F.expr(f"tg div {_B1}"),
        )
        .join(
            mid.select("v23", "n1md"),
            mid["v23"] == F.col("tg") % F.lit(_B2),
        )
        .join(
            midctx.select("w2", "den2", "n1fmd"),
            midctx["w2"] == F.expr(f"(tg div {_B1}) % {_B1}"),
        )
        .join(
            cont.select("w3", "n1bd"),
            cont["w3"] == F.col("tg") % F.lit(_B1),
        )
        .join(F.broadcast(nt), F.lit(True))
        .select(
            "tg",
            F.floor(
                scale
                * -F.log(
                    ((F.col("c123").cast("double") - d_lit) / F.col("c12d"))
                    + (
                        ((d_lit * F.col("n1fd")) / F.col("c12d"))
                        * (
                            ((F.col("n1md") - d_lit) / F.col("den2"))
                            + (
                                ((d_lit * F.col("n1fmd")) / F.col("den2"))
                                * (F.col("n1bd") / F.col("nd"))
                            )
                        )
                    )
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s_tri"),
        )
    )
    # backoff: lam(prefix or 1.0) * (mid formula if both mid tables hit,
    # else lam_mid-or-1.0 * floored continuation) — same tree as the CASE
    mid_part = F.when(
        F.col("v23_t").isNotNull() & F.col("w2_t").isNotNull(),
        ((F.col("n1md") - d_lit) / F.col("den2"))
        + (
            ((d_lit * F.col("n1fmd")) / F.col("den2"))
            * (F.coalesce(F.col("n1b"), F.lit(1)).cast("double") / F.col("nd"))
        ),
    ).otherwise(
        F.when(
            F.col("w2_t").isNotNull(),
            (d_lit * F.col("n1fmd")) / F.col("den2"),
        ).otherwise(F.lit(1.0))
        * (F.coalesce(F.col("n1b"), F.lit(1)).cast("double") / F.col("nd"))
    )
    backoff_s = F.floor(
        scale
        * -F.log(
            F.when(
                F.col("u12_t").isNotNull(),
                (d_lit * F.col("n1fd")) / F.col("c12d"),
            ).otherwise(F.lit(1.0))
            * mid_part
        )
        + F.lit(0.5)
    ).cast("long")
    tok = (
        pr.join(F.broadcast(nt), F.lit(True))
        .join(F.broadcast(tscored), "tg", "left")
        .join(
            F.broadcast(ctx_top.withColumnRenamed("u12", "u12_t")),
            F.expr(f"tg div {_B1}") == F.col("u12_t"),
            "left",
        )
        .join(
            F.broadcast(mid_top.withColumnRenamed("v23", "v23_t")),
            (F.col("tg") % F.lit(_B2)) == F.col("v23_t"),
            "left",
        )
        .join(
            F.broadcast(midctx_top.withColumnRenamed("w2", "w2_t")),
            F.expr(f"(tg div {_B1}) % {_B1}") == F.col("w2_t"),
            "left",
        )
        .join(
            F.broadcast(cont_top.withColumnRenamed("w3", "w3_t")),
            (F.col("tg") % F.lit(_B1)) == F.col("w3_t"),
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("s_tri").isNotNull(), 1).otherwise(0).alias(
                "model_hit"
            ),
            F.coalesce(F.col("s_tri"), backoff_s).alias("s"),
        )
    )
    # avg quantized via EXACT integer half-up — round(S/n, 6) as
    # (2S + n) div (2n), identical integer arithmetic in both engines.
    # ROUND(double, 6) is a trap the sf0.01 gate actually sprang here:
    # S = 226625028, n = 56 is a TRUE decimal halfway (4.0468755), and
    # Spark's HALF_UP-on-shortest-repr disagrees with DuckDB's
    # binary-double rounding (NOTES.md "spell out floor(x+0.5)").
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("model_hit").cast("long").alias("n_model_hits"),
            F.sum("s").alias("ssum"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_model_hits",
            (
                F.expr("(2 * ssum + n_trigrams) div (2 * n_trigrams)").cast(
                    "double"
                )
                / scale
            ).alias("avg_neglogp"),
        )
    )
