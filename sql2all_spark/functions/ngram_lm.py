"""One n-gram language-model core (non-registering).

Five document scorers and both CCNet bucketings have one shape:
tokens -> n-gram counts -> a bounded top-K serving model -> broadcast
left joins -> a fixed-point per-doc sum.  This module defines each
piece once; ``operators/text.py`` (unigram), ``operators/lm.py``
(Stupid Backoff, SB), ``operators/kn_lm.py`` (Kneser-Ney, KN) and
``operators/ccnet.py`` (terciles) register the queries, and the DuckDB
oracles stay hand-written next to them (the two shared ones live here).

- **Tokens.** Split on ' ', drop '' (whitespace runs and trailing
  spaces mint no tokens), then map into a token domain: raw strings
  (SB), a 32-bit md5 bucket (unigram), or ``60 // order``-bit md5
  buckets packed into one int64 per n-gram (KN: 30 bits per bigram
  token, 20 per trigram token), so the count exchange carries an
  8-byte key.  N-grams explode inline in the select that builds them:
  a two-step explode re-evaluates the projection per output element
  (measured 46 s vs 0.96 s at sf0.1 on the contamination packing).
- **Bounded model.** Every serving table is a top-K heap ordered by
  (count DESC NULLS LAST, keys ASC NULLS FIRST): ``VOCAB`` rows for
  unigram vocabularies and KN context/continuation tables, ``TOP``
  cells for order >= 2.  Every model table reaches the per-position
  rows as a broadcast, so the model is bounded at any corpus size and
  raw text never crosses an exchange.
- **Fixed point.** Per-position scores are ``floor(SCALE * -ln p +
  0.5)`` longs from IEEE expression trees written identically in both
  engines, so doc sums are exact and order-free; the per-doc mean is
  the exact integer half-up ``(2S + n) div (2n) / SCALE``
  (``ROUND(double, 6)`` is a real halfway hazard: NOTES.md TRAP r15).
- **SB** (Brants et al. 2007): level-k cells score c_k / c_{k-1}; a
  miss backs off one level and adds the precomputed integer
  ``S_BACKOFF`` (-ln 0.4) when that level's context word exists.
- **KN** (Kneser & Ney 1995, interpolated; Heafield 2011 for the
  serving shape): every count derives from the one order-n count table
  T_n by integer arithmetic on the packed key (T_k, k < n: for each
  k-gram, how many distinct (k+1)-grams end in it; X_k: the per-context
  sums and type counts of T_k).  ``P_1 = N1+(*,v)/N``; ``P_k = (c_k - D)/ctx_k +
  (D*n1f_k/ctx_k) * P_{k-1}``.  Off the cell table the score backs off
  to ``lam_or_1(ctx_n) * M_{n-1}``, with M_1 the continuation floored
  at 1/N and M_k the discounted form when both level-k tables hit,
  else ``lam_or_1(ctx_k) * M_{k-1}``.  The pruned model is
  unnormalized at the margins, as any pruned serving LM is.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.hashing import base_hash, base_hash_sql
from sql2all_spark.spread import spread_fanout
from sql2all_spark.tables import load_table

SCALE = 1_000_000  # fixed-point -ln p scale
VOCAB = 4096  # unigram vocabulary / KN context and continuation rows kept
TOP = 512  # order >= 2 model cells kept (backoff stays live at every SF)
D = 0.75  # KN absolute discount, every level (exact double literal)
BACKOFF_ALPHA = 0.4  # SB per-level backoff factor
# floor(SCALE * -ln(0.4) + 0.5), precomputed so BOTH engines add the
# identical integer instead of each taking ln of a float literal
S_BACKOFF = 916291
HASH_BUCKETS = 1 << 32  # unigram token domain


def packed_bits(order: int) -> int:
    """KN token width: ``order`` tokens pack into one int64 key < 2^60."""
    return 60 // order


def tokens(text: Column) -> Column:
    """The ladder's one tokenizer: split on ' ', drop ''."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


# :func:`tokens` as a DuckDB list over the ``text`` column
TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"


def top_k(df: DataFrame, k: int, count: str, *keys: str) -> DataFrame:
    """Bounded serving table: ORDER BY count DESC NULLS LAST, keys ASC
    NULLS FIRST LIMIT k (a TakeOrderedAndProject heap)."""
    return df.orderBy(
        F.col(count).desc_nulls_last(), *(F.col(c).asc_nulls_first() for c in keys)
    ).limit(k)


def fixed(p: Column) -> Column:
    """Per-position score floor(SCALE * -ln p + 0.5) as a long."""
    return F.floor(F.lit(float(SCALE)) * -F.log(p) + F.lit(0.5)).cast("long")


def avg_fixed(s: str) -> Column:
    """Per-doc tail: the exact integer half-up mean of ``s``, / SCALE."""
    return F.expr(f"(2 * sum({s}) + count(1)) div (2 * count(1))").cast(
        "double"
    ) / F.lit(float(SCALE))


def _level1() -> Column:
    """Level-1 score: the vocabulary's ``s1``, else 1/total (OOV)."""
    return F.coalesce(F.col("s1"), fixed(F.lit(1.0) / F.col("t")))


def _with_level1(rows: DataFrame, counts: DataFrame, key: str) -> DataFrame:
    """``rows`` with level 1 of the MLE scorers attached: ``s1`` from the
    top-VOCAB vocabulary of the persisted (key, c) ``counts``, scored
    c/t, and the corpus total ``t`` as a lazy 1-row broadcast (plan
    construction runs no job; the total reads the counts, not the
    corpus)."""
    tot = counts.agg(F.sum("c").cast("double").alias("t"))
    vocab = top_k(counts, VOCAB, "c", key).join(F.broadcast(tot), F.lit(True))
    scored = vocab.select(
        key, fixed(F.col("c").cast("double") / F.col("t")).alias("s1")
    )
    return rows.join(F.broadcast(scored), key, "left").join(
        F.broadcast(tot), F.lit(True)
    )


UNIGRAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
t2 AS (
  SELECT doc_id, {base_hash_sql("token")} % {HASH_BUCKETS} AS th
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
  LIMIT {VOCAB}
),
scored AS (
  SELECT th,
         CAST(FLOOR({SCALE}.0 * -LN(CAST(c AS DOUBLE) / t) + 0.5)
              AS BIGINT) AS s
  FROM vocab, tot
),
doc AS (
  SELECT t2.doc_id,
         CASE WHEN sc.th IS NULL THEN 1 ELSE 0 END AS is_oov,
         COALESCE(sc.s,
                  CAST(FLOOR({SCALE}.0 * -LN(1.0 / t) + 0.5)
                       AS BIGINT)) AS s_scaled
  FROM t2 CROSS JOIN tot LEFT JOIN scored sc ON t2.th = sc.th
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(is_oov) AS BIGINT) AS n_oov,
       CAST((2 * SUM(s_scaled) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {SCALE}.0 AS avg_neglogp
FROM doc GROUP BY doc_id
"""

# Columns the unigram scorer produces or uses internally; carry keys must
# be disjoint or column resolution breaks inside the plan.
_RESERVED_COLUMNS = frozenset(
    {"token", "th", "s", "s1", "t", "c", "is_oov", "n_tokens", "n_oov",
     "avg_neglogp", "doc_id", "_ulm_toks", "text"}
)


def unigram_doc_scores(
    spark: SparkSession, sf_dir: str, carry: dict | None = None, doc_filter=None
) -> DataFrame:
    """(doc_id, *carry, n_tokens, n_oov, avg_neglogp): MLE unigram over
    32-bit token hashes (collisions pool counts; ~2e-3 expected at
    V=4096), OOV backed off to 1/total.

    ``carry`` maps output names to row-local Columns over the documents
    scan; they ride the per-doc aggregation as ``first()``, so composing
    row-local signals costs no extra scan and no join (DSIR).
    ``doc_filter`` restricts the per-doc side only; the vocabulary always
    comes from the full corpus."""
    carry = carry or {}
    reserved = _RESERVED_COLUMNS & set(carry)
    if reserved:
        raise ValueError(
            f"carry keys collide with unigram-scorer columns: {sorted(reserved)}"
        )
    # one re-spread serves both passes (the fixture scan is one
    # unsplittable row group; no-op on multi-split layouts)
    d = spread_fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def rows(side: DataFrame, carry: dict) -> DataFrame:
        # carry exprs evaluate in their own projection BELOW the explode:
        # select(expr, explode(c)) would run expr once per TOKEN row
        # (measured >50x on the DSIR trigram transform)
        return (
            side.select(
                "doc_id",
                *(expr.alias(k) for k, expr in carry.items()),
                tokens(F.col("text")).alias("_ulm_toks"),
            )
            .select("doc_id", *carry, F.explode("_ulm_toks").alias("token"))
            .select(
                "doc_id", *carry,
                (base_hash(F.col("token")) % F.lit(HASH_BUCKETS)).alias("th"),
            )
        )

    toks = rows(d, {})
    counts = (
        toks.groupBy("th").agg(F.count(F.lit(1)).alias("c")).transform(persist_tracked)
    )
    if carry or doc_filter is not None:
        toks = rows(d.filter(doc_filter) if doc_filter is not None else d, carry)
    doc = _with_level1(toks, counts, "th").select(
        "doc_id",
        *carry,
        F.when(F.col("s1").isNull(), 1).otherwise(0).alias("is_oov"),
        _level1().alias("s"),
    )
    return doc.groupBy("doc_id").agg(
        *(F.first(k).alias(k) for k in carry),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").cast("long").alias("n_oov"),
        avg_fixed("s").alias("avg_neglogp"),
    )


_LEVEL = {2: "bigram", 3: "trigram"}


def sb_doc_scores(spark: SparkSession, sf_dir: str, order: int) -> DataFrame:
    """(doc_id, n_tokens, n_<level>_hits for each level >= 2 from the
    top, avg_neglogp): Stupid Backoff of ``order`` over raw tokens.
    Every position scores, the first ones with null context words (pure
    lower-order, no penalty for a missing context)."""
    w = [f"w{j}" for j in range(1, order + 1)]  # w[-1] is the scored token
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") >= 1)

    def at(i: Column, back: int) -> Column:
        if back == 0:
            return F.element_at(F.col("w"), i)
        return F.when(i > back, F.element_at(F.col("w"), i - back))

    pos = F.transform(
        F.sequence(F.lit(1), F.size("w")),
        lambda i: F.struct(*(at(i, order - j).alias(c) for j, c in enumerate(w, 1))),
    )
    pr = t.select("doc_id", F.explode(pos).alias("p")).select(
        "doc_id", *(f"p.{c}" for c in w)
    )
    # level-k counts over the last k words; every level but the top feeds
    # both its own cells and the level above (persisted, lazily)
    counts = {}
    for k in range(1, order + 1):
        keys = w[order - k:]
        src = pr if k == 1 else pr.filter(F.col(keys[0]).isNotNull())
        counts[k] = src.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
        if k < order:
            counts[k] = counts[k].transform(persist_tracked)
    tok = pr
    for k in range(order, 1, -1):
        keys = w[order - k:]
        ctx = counts[k - 1].select(
            *(F.col(a).alias(b) for a, b in zip(keys[1:], keys[:-1])),
            F.col("c").alias("cx"),
        )
        cells = top_k(counts[k], TOP, "c", *keys).join(ctx, keys[:-1]).select(
            *keys,
            fixed(F.col("c").cast("double") / F.col("cx").cast("double")).alias(f"s{k}"),
        )
        tok = tok.join(F.broadcast(cells), keys, "left")
    tok = _with_level1(tok, counts[1], w[-1])
    s = _level1()
    lvl = F.lit(1)
    for k in range(2, order + 1):
        hit = F.col(f"s{k}").isNotNull()
        back = F.when(F.col(w[order - k]).isNotNull(), S_BACKOFF).otherwise(0)
        s = F.when(hit, F.col(f"s{k}")).otherwise(s + back)
        lvl = F.when(hit, k).otherwise(lvl)
    return (
        tok.select("doc_id", lvl.alias("lvl"), s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            *(
                F.sum(F.when(F.col("lvl") == k, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{_LEVEL[k]}_hits")
                for k in range(order, 1, -1)
            ),
            avg_fixed("s").alias("avg_neglogp"),
        )
    )


def kn_chain_ctes() -> str:
    """The KN trigram oracle's count-table + serving-model + per-position
    WITH-chain body (``d`` .. ``tok``); callers append their own tail."""
    b1 = 1 << packed_bits(3)
    b2 = b1 * b1
    th = f"{base_hash_sql('t')} % {b1}"
    return f"""d AS (
  SELECT doc_id,
         list_transform({TOKENS_SQL},
                        t -> {th}) AS th
  FROM documents
  WHERE len({TOKENS_SQL}) >= 3
),
pr AS (
  SELECT doc_id, th[i - 2] * {b2} + th[i - 1] * {b1} + th[i] AS tg
  FROM (SELECT doc_id, th, UNNEST(range(3, len(th) + 1)) AS i FROM d)
),
tc AS (
  SELECT tg, COUNT(*) AS c123 FROM pr GROUP BY tg
),
ctx AS (
  SELECT tg // {b1} AS u12,
         CAST(SUM(c123) AS DOUBLE) AS c12d,
         CAST(COUNT(*) AS DOUBLE) AS n1fd,
         CAST(SUM(c123) AS BIGINT) AS c12
  FROM tc GROUP BY tg // {b1}
),
mid AS (
  SELECT tg % {b2} AS v23, CAST(COUNT(*) AS DOUBLE) AS n1md,
         CAST(COUNT(*) AS BIGINT) AS n1m
  FROM tc GROUP BY tg % {b2}
),
midctx AS (
  SELECT v23 // {b1} AS w2,
         CAST(SUM(n1m) AS DOUBLE) AS den2,
         CAST(COUNT(*) AS DOUBLE) AS n1fmd,
         CAST(SUM(n1m) AS BIGINT) AS den2i
  FROM mid GROUP BY v23 // {b1}
),
cont AS (
  SELECT v23 % {b1} AS w3, CAST(COUNT(*) AS DOUBLE) AS n1bd,
         CAST(COUNT(*) AS BIGINT) AS n1b
  FROM mid GROUP BY v23 % {b1}
),
nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM mid),
ttop AS (
  SELECT tg, c123 FROM tc
  ORDER BY c123 DESC NULLS LAST, tg ASC NULLS FIRST
  LIMIT {TOP}
),
ctx_top AS (
  SELECT u12, c12d, n1fd FROM ctx
  ORDER BY c12 DESC NULLS LAST, u12 ASC NULLS FIRST
  LIMIT {VOCAB}
),
mid_top AS (
  SELECT v23, n1md FROM mid
  ORDER BY n1m DESC NULLS LAST, v23 ASC NULLS FIRST
  LIMIT {VOCAB}
),
midctx_top AS (
  SELECT w2, den2, n1fmd FROM midctx
  ORDER BY den2i DESC NULLS LAST, w2 ASC NULLS FIRST
  LIMIT {VOCAB}
),
cont_top AS (
  SELECT w3, n1b FROM cont
  ORDER BY n1b DESC NULLS LAST, w3 ASC NULLS FIRST
  LIMIT {VOCAB}
),
tscored AS (
  SELECT t.tg,
         CAST(FLOOR({SCALE}.0 * -LN(
                ((CAST(t.c123 AS DOUBLE) - {D}) / cx.c12d)
                + ((({D} * cx.n1fd) / cx.c12d)
                   * (((m.n1md - {D}) / mc.den2)
                      + ((({D} * mc.n1fmd) / mc.den2)
                         * (cn.n1bd / nt.nd))))
              ) + 0.5) AS BIGINT) AS s_tri
  FROM ttop t
  JOIN ctx cx ON cx.u12 = t.tg // {b1}
  JOIN mid m ON m.v23 = t.tg % {b2}
  JOIN midctx mc ON mc.w2 = (t.tg // {b1}) % {b1}
  JOIN cont cn ON cn.w3 = t.tg % {b1}
  CROSS JOIN nt
),
tok AS (
  SELECT pr.doc_id,
         CASE WHEN ts.s_tri IS NOT NULL THEN 1 ELSE 0 END AS model_hit,
         CASE WHEN ts.s_tri IS NOT NULL THEN ts.s_tri
              ELSE CAST(FLOOR({SCALE}.0 * -LN(
                     (CASE WHEN cx.u12 IS NOT NULL
                           THEN (({D} * cx.n1fd) / cx.c12d)
                           ELSE 1.0 END)
                     * (CASE WHEN m.v23 IS NOT NULL AND mc.w2 IS NOT NULL
                             THEN ((m.n1md - {D}) / mc.den2)
                                  + ((({D} * mc.n1fmd) / mc.den2)
                                     * (CAST(COALESCE(cn.n1b, 1) AS DOUBLE)
                                        / nt.nd))
                             ELSE (CASE WHEN mc.w2 IS NOT NULL
                                        THEN (({D} * mc.n1fmd) / mc.den2)
                                        ELSE 1.0 END)
                                  * (CAST(COALESCE(cn.n1b, 1) AS DOUBLE)
                                     / nt.nd) END)
                   ) + 0.5) AS BIGINT)
         END AS s
  FROM pr
  CROSS JOIN nt
  LEFT JOIN tscored ts ON ts.tg = pr.tg
  LEFT JOIN ctx_top cx ON cx.u12 = pr.tg // {b1}
  LEFT JOIN mid_top m ON m.v23 = pr.tg % {b2}
  LEFT JOIN midctx_top mc ON mc.w2 = (pr.tg // {b1}) % {b1}
  LEFT JOIN cont_top cn ON cn.w3 = pr.tg % {b1}
)"""


# the KN trigram scorer's per-doc tail, appended after kn_chain_ctes()
KN3_DOC_SELECT = f"""SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(model_hit) AS BIGINT) AS n_model_hits,
       CAST((2 * SUM(s) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / {SCALE}.0 AS avg_neglogp
FROM tok GROUP BY doc_id"""


def kn_doc_scores(spark: SparkSession, sf_dir: str, order: int) -> DataFrame:
    """(doc_id, n_<order>grams, n_model_hits, avg_neglogp): interpolated
    KN of ``order`` over packed token hashes; docs with fewer than
    ``order`` tokens carry no score."""
    bw = 1 << packed_bits(order)
    g = {2: "bg", 3: "tg"}[order]  # the packed n-gram key
    d = spread_fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    th = d.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= order
    ).select(
        "doc_id",
        F.transform("w", lambda tok: base_hash(tok) % F.lit(bw)).alias("th"),
    )
    pack = F.transform(
        F.sequence(F.lit(order), F.size("th")),
        lambda i: reduce(add, (
            F.element_at(F.col("th"), i - b) * F.lit(bw**b)
            if b else F.element_at(F.col("th"), i)
            for b in range(order - 1, -1, -1)
        )),
    )
    pr = th.select("doc_id", F.explode(pack).alias(g)).transform(persist_tracked)

    def key(k: int) -> str:  # T_k's key column
        return g if k == order else f"g{k}"

    def suffix(k: int) -> str:  # T_k's key of a packed n-gram
        return g if k == order else f"({g} % {bw**k})"

    # T_k (g{k}, c{k}): level-k counts, each level the distinct
    # continuations of the one above; X_k (u{k}, cu{k}, f{k}): their
    # context sums and distinct-successor counts.  Every table is read
    # twice (cell scoring and its serving heap), so each is persisted,
    # lazily: at sf0.1 on 4 cores that ran fewer jobs in less wall than
    # an eager count per table (bench.py, min-of-5).
    T = {order: pr.groupBy(g).agg(F.count(F.lit(1)).alias(f"c{order}"))
         .transform(persist_tracked)}
    levels = []  # (table, key, count, key of a packed n-gram), X_n first
    for k in range(order, 0, -1):
        if k < order:
            T[k] = T[k + 1].groupBy(
                (F.col(key(k + 1)) % F.lit(bw**k)).alias(key(k))
            ).agg(F.count(F.lit(1)).alias(f"c{k}")).transform(persist_tracked)
            levels.append((T[k], key(k), f"c{k}", suffix(k)))
        if k > 1:
            x = T[k].groupBy(F.expr(f"{key(k)} div {bw}").alias(f"u{k}")).agg(
                F.sum(f"c{k}").alias(f"cu{k}"), F.count(F.lit(1)).alias(f"f{k}")
            )
            levels.append(
                (x.transform(persist_tracked), f"u{k}", f"cu{k}", f"{suffix(k)} div {bw}")
            )
    nt = T[2].agg(F.count(F.lit(1)).cast("double").alias("nd"))

    def dbl(c: str) -> Column:
        return F.col(c).cast("double")

    def lam(k: int) -> Column:
        return (F.lit(D) * dbl(f"f{k}")) / dbl(f"cu{k}")

    def lam_or_1(k: int) -> Column:
        return F.when(F.col(f"u{k}").isNotNull(), lam(k)).otherwise(F.lit(1.0))

    def interp(k: int, lower: Column) -> Column:
        return ((dbl(f"c{k}") - F.lit(D)) / dbl(f"cu{k}")) + (lam(k) * lower)

    # cells: the top-TOP n-grams with the full interpolated probability
    p = dbl("c1") / F.col("nd")
    for k in range(2, order + 1):
        p = interp(k, p)
    cells = top_k(T[order], TOP, f"c{order}", g)
    for table, k, _, on in levels:
        cells = cells.join(table, F.col(k) == F.expr(on))
    cells = cells.join(F.broadcast(nt), F.lit(True)).select(
        g, fixed(p).alias("s_n")
    )
    # backoff over the serving heaps
    m = F.coalesce(F.col("c1"), F.lit(1)).cast("double") / F.col("nd")
    for k in range(2, order):
        m = F.when(
            F.col(f"g{k}").isNotNull() & F.col(f"u{k}").isNotNull(), interp(k, m)
        ).otherwise(lam_or_1(k) * m)
    tok = pr.join(F.broadcast(nt), F.lit(True)).join(F.broadcast(cells), g, "left")
    for table, k, count, on in levels:
        tok = tok.join(
            F.broadcast(top_k(table, VOCAB, count, k)),
            F.col(k) == F.expr(on),
            "left",
        )
    tok = tok.select(
        "doc_id",
        F.when(F.col("s_n").isNotNull(), 1).otherwise(0).alias("model_hit"),
        F.coalesce(F.col("s_n"), fixed(lam_or_1(order) * m)).alias("s"),
    )
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias(f"n_{_LEVEL[order]}s"),
        F.sum("model_hit").cast("long").alias("n_model_hits"),
        avg_fixed("s").alias("avg_neglogp"),
    )


def tercile_profile(
    spark: SparkSession, sf_dir: str, lm: DataFrame, sums: list[str]
) -> DataFrame:
    """CCNet head/middle/tail profile of per-doc scores ``lm``: exact
    NTILE(3) per language by (avg_neglogp, doc_id), then per (lang,
    bucket) the doc count, the ``sums`` columns, the score band and the
    exact half-up mean (scores are k/1e6, so DECIMAL(18,6) recovers k)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = lm.join(d, "doc_id").withColumn(
        "tercile",
        F.ntile(3).over(
            Window.partitionBy("lang").orderBy(
                F.col("avg_neglogp").asc_nulls_first(),
                F.col("doc_id").asc_nulls_first(),
            )
        ),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        scored.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *(F.sum(c).cast("long").alias(c) for c in sums),
            F.min("avg_neglogp").alias("min_score"),
            F.max("avg_neglogp").alias("max_score"),
            avg_fixed(
                f"cast(cast(avg_neglogp as decimal(18,6)) * {SCALE} as bigint)"
            ).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )
