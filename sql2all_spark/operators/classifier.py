"""Distributed quality-classifier training: logistic regression by
batch gradient descent over corpus-level features — the fastText/DCLM
quality-filter training stand-in (Joulin et al. 2017 train a linear
text classifier; DCLM and FineWeb train quality filters over doc
features and score the whole corpus with them).

Loop discipline (the PQ-codebook / bpe_train pattern): the feature frame
is computed once and persisted; each GD round is ONE slim aggregate —
per-feature gradient sums in DECIMAL(28,12) (order-free, exact) — whose
4 updated weights are collected and re-entered as LITERALS, so every
round's physical plan is identical and lineage never grows.  A 4-value
collect per round is an O(1) driver scalar in the repo's escape-hatch
taxonomy.  At 100 TB each round is one partial-aggregatable scan of a
slim (x1, x2, x3, y) projection — the classic distributed batch-GD
shape (map-side gradient combine, no shuffle of rows, 1 reduce row).

Cross-engine determinism (the lm.py / bitext.py fixed-point ledger):

- features are deterministic doubles (integer counts and ROUND(·, 6)
  ratios — IEEE arithmetic on identical inputs is engine-identical);
- the sigmoid is the ONLY transcendental: its output is immediately
  quantized to a fixed-point BIGINT ``p_fx = FLOOR(1e6·σ(z) + 0.5)``
  (the lm.py FLOOR(x+0.5) discipline — a 1-ulp exp() divergence flips
  the floor only within ~1e-10 of a boundary), and all downstream
  arithmetic uses the EXACT double ``p_fx / 1e6``;
- gradient sums go through DECIMAL(28,12) (order-free), means and
  weight updates are ROUND(·, 6) — byte-identical in both engines.

The fixture gold label is a length-gate quality proxy (n_chars >= 280)
— production quality filters likewise train against heuristic gold
(FineWeb-Edu scores, wiki-reference membership).  Measured: lang='en'
as the label sits at the base rate (surface stats are iid across the
fixture's langs), while the length gate LEARNS — accuracy 270 -> 444
of 500 over 4 rounds at sf0.01 with monotone log-loss (pinned in
tests).  The contract under test is the distributed training loop and
its cross-engine trajectory — the oracle hash-pins all ROUNDS rows of
(weights, train accuracy).

Reference parity: SQL2ALL has no ML surface (658-line core delegates
SQL to the attached DB — src/db/sqlite.rs:79); LLM-pipeline extension
surface (SURVEY.md §2 extension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.clf_core import (  # noqa: F401 (re-exports:
    # tests and the profile operator import these names from here)
    CAP_N,
    CLF_GOLD_CHARS,
    CLF_HALF,
    CLF_LR,
    CLF_ROUNDS,
    CLF_SCALE,
    CLF_TOK_SCALE,
    CLF_CPT_SCALE,
    _FEATS_SQL,
    _Z_W_SQL,
    _acc_cols,
    _feats,
    _p_fx,
    _p_fx_sql,
    _upd_cols,
    _w_chain_sql,
    _z,
    clear_weights_cache,
    store_weights,
    train_weights,
    trained_weights,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

def _clf_oracle() -> str:
    """Training-trajectory oracle: the shared chain + per-round rows."""
    rounds = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS round, w.w0, w.w1, w.w2, w.w3,"
        f" CAST(c.n_correct AS BIGINT) AS n_correct,"
        f" CAST(c.n_rows AS BIGINT) AS n_rows"
        f" FROM w{k} w, c{k} c"
        for k in range(1, CLF_ROUNDS + 1)
    )
    return _w_chain_sql(with_acc=True) + f"\n{rounds}\nORDER BY round"


@register(
    "text_quality_classifier_train",
    oracle=_clf_oracle(),
    doc=f"Distributed quality-classifier training: {CLF_ROUNDS} batch-GD"
    " rounds of logistic regression over deterministic surface features"
    " (tokens, chars-per-token, distinct-token ratio -> a length-gate"
    " gold label), the fastText/DCLM quality-filter stand-in.  Each"
    " round is ONE slim"
    " partial-aggregatable scan (DECIMAL gradient sums, map-side"
    " combine); the 4 weights re-enter as literals (pq_train pattern) so"
    " per-round plans are identical and lineage never grows.  The result"
    " hash-pins the whole trajectory: per round, the ROUND(·,6) weights"
    " and the train accuracy under them.  Sigmoid outputs are fixed-point"
    " BIGINTs (lm.py discipline), so both engines walk byte-identical"
    " weight paths.  Round k's single aggregate computes BOTH the"
    " gradients under w{k-1} AND the train accuracy under w{k-1} —"
    " the accuracy that fills round k-1's output row — so the loop runs"
    " CLF_ROUNDS+1 jobs, not 2 per round (one trailing accuracy-only"
    " aggregate scores the final weights).  Output values are identical"
    " to the unfused loop: row k still reports accuracy under w{k}.",
)
def text_quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = [0.0, 0.0, 0.0, 0.0]
    weights: list[list[float]] = []
    accs: list[tuple] = []
    for k in range(1, CLF_ROUNDS + 1):
        row = feats.agg(*_upd_cols(w), *_acc_cols(w)).collect()[0]
        # accuracy was evaluated under w{k-1} = the weights row k-1
        # reported; round 1's accuracy under the all-zero w0 is not an
        # output row (the ledger starts at w1).
        if k > 1:
            accs.append((row["n_correct"], row["n_rows"]))
        w = [row[f"w{j}"] for j in range(4)]
        weights.append(list(w))
    final = feats.agg(*_acc_cols(w)).collect()[0]
    accs.append((final["n_correct"], final["n_rows"]))
    # Seed the session weight store: the training query IS the build leg
    # of the stored-weights artifact, so scoring legs that run after it
    # re-enter these exact floats with zero training jobs.
    store_weights(sf_dir, w)
    out = [
        (k, *weights[k - 1], *accs[k - 1])
        for k in range(1, CLF_ROUNDS + 1)
    ]
    return spark.createDataFrame(
        out,
        "round int, w0 double, w1 double, w2 double, w3 double,"
        " n_correct bigint, n_rows bigint",
    ).orderBy(F.col("round").asc_nulls_first())


# ---------------------------------------------------------------------------
# Scoring legs: the filter that actually filters (FineWeb keeps score >= tau;
# DCLM scores the whole corpus with the trained fastText filter) and the
# RefinedWeb-style per-source cap against over-represented domains.
# ---------------------------------------------------------------------------

# per-source keep budget: clf_core.CAP_N (shared with tau_caps; imported
# in the header block above)



def _filter_oracle() -> str:
    return (
        _w_chain_sql(with_acc=False)
        + f""",
scored AS (
  SELECT f.lang, {_p_fx_sql(_Z_W_SQL)} AS p_fx
  FROM feats f, w{CLF_ROUNDS} w
)
SELECT lang,
       CAST(p_fx >= {CLF_HALF} AS INTEGER) AS kept,
       COUNT(*) AS n_docs,
       CAST(SUM(p_fx) AS BIGINT) AS sum_p_fx,
       MIN(p_fx) AS min_p_fx,
       MAX(p_fx) AS max_p_fx
FROM scored
GROUP BY lang, kept
ORDER BY lang ASC NULLS FIRST, kept ASC NULLS FIRST
"""
    )


@register(
    "text_quality_filter",
    oracle=_filter_oracle(),
    doc="Quality-classifier SCORING leg: apply the trained round-"
    f"{CLF_ROUNDS} weights (literals — the pq_train re-entry pattern;"
    " production trains once and stores them) to EVERY document in one"
    " row-local scan — per-doc fixed-point score p_fx and a kept/dropped"
    " decision at p >= 0.5 (the FineWeb keep-if-score>=tau shape) —"
    " then profile per (lang, kept): doc counts and exact BIGINT score"
    " sums/extrema.  The scoring scan has no join and no exchange before"
    " the profile aggregation (plan-pinned): at 100 TB this is the"
    " cheapest possible corpus pass, a projection + map-side partial agg.",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = trained_weights(feats, sf_dir)
    return (
        feats.select(
            "lang",
            _p_fx(_z(w)).alias("p_fx"),
        )
        .withColumn("kept", (F.col("p_fx") >= F.lit(CLF_HALF)).cast("int"))
        .groupBy("lang", "kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p_fx").alias("sum_p_fx"),
            F.min("p_fx").alias("min_p_fx"),
            F.max("p_fx").alias("max_p_fx"),
        )
        .orderBy(
            F.col("lang").asc_nulls_first(), F.col("kept").asc_nulls_first()
        )
    )


def _caps_oracle() -> str:
    return (
        _w_chain_sql(with_acc=False)
        + f""",
scored AS (
  SELECT f.source, f.doc_id, {_p_fx_sql(_Z_W_SQL)} AS p_fx
  FROM feats f, w{CLF_ROUNDS} w
),
ranked AS (
  SELECT source, doc_id, p_fx,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY p_fx DESC, doc_id ASC) AS rn
  FROM scored
),
kept AS (
  SELECT source,
         COUNT(*) AS n_kept,
         CAST(SUM(p_fx) AS BIGINT) AS sum_kept_p_fx,
         MIN(p_fx) AS min_kept_p_fx
  FROM ranked WHERE rn <= {CAP_N}
  GROUP BY source
),
totals AS (SELECT source, COUNT(*) AS n_docs FROM scored GROUP BY source)
SELECT t.source, t.n_docs, k.n_kept,
       t.n_docs - k.n_kept AS n_dropped,
       k.sum_kept_p_fx, k.min_kept_p_fx
FROM totals t JOIN kept k ON t.source = k.source
ORDER BY t.source ASC NULLS FIRST
"""
    )


@register(
    "text_source_quality_caps",
    oracle=_caps_oracle(),
    doc="RefinedWeb-style per-source quality cap: keep only the top"
    f" {CAP_N} documents per source by trained quality score (score"
    " DESC, doc_id tiebreak) — the standard guard against over-"
    "represented domains — and report per-source kept/dropped stats."
    " The rank-filter compiles to WindowGroupLimit (plan-pinned): a"
    " BOUNDED per-source heap on both the map and reduce side of the"
    " source shuffle, never a global sort and never a full per-group"
    " sort, so at 100 TB a source with 10^9 docs still costs O(n) scan"
    f" + O({CAP_N}) state.  Weights re-enter as literals (train-once /"
    " score-everything; see text_quality_filter).",
)
def text_source_quality_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = trained_weights(feats, sf_dir)
    scored = feats.select("source", "doc_id", _p_fx(_z(w)).alias("p_fx"))
    win = Window.partitionBy("source").orderBy(
        F.col("p_fx").desc(), F.col("doc_id").asc()
    )
    kept = (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= CAP_N)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("p_fx").alias("sum_kept_p_fx"),
            F.min("p_fx").alias("min_kept_p_fx"),
        )
    )
    totals = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            "sum_kept_p_fx",
            "min_kept_p_fx",
        )
        .orderBy(F.col("source").asc_nulls_first())
    )


N_CAL_BANDS = 10  # fixed-width score bands for the calibration profile


def _cal_oracle() -> str:
    return (
        _w_chain_sql(with_acc=False)
        + f""",
scored AS (
  SELECT f.y, {_p_fx_sql(_Z_W_SQL)} AS p_fx
  FROM feats f, w{CLF_ROUNDS} w
)
SELECT CAST(LEAST(p_fx * {N_CAL_BANDS} // {CLF_SCALE},
                  {N_CAL_BANDS - 1}) AS INT) AS band,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       CAST(SUM(p_fx) AS BIGINT) AS sum_p_fx
FROM scored
GROUP BY band
ORDER BY band ASC NULLS FIRST
"""
    )


@register(
    "text_quality_calibration",
    oracle=_cal_oracle(),
    doc="Classifier calibration profile (reliability diagram): bucket"
    f" every document's fixed-point score into {N_CAL_BANDS} FIXED-WIDTH"
    " bands (row-local integer floor-divide — NOT a rank NTILE, which"
    " would globally sort the corpus) and emit per-band doc count,"
    " positive-gold count, and exact score sum.  n_pos/n_docs vs"
    " sum_p_fx/(n_docs*SCALE) per band is the calibration curve / ECE"
    " input a filter-tuning run reads before choosing tau.  One"
    " column-pruned scan + a <=10-group aggregate: the identical plan"
    " at 100 TB.",
)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = trained_weights(feats, sf_dir)
    p = _p_fx(_z(w))
    band = F.least(
        (p * N_CAL_BANDS / F.lit(CLF_SCALE)).cast("long"),
        F.lit(N_CAL_BANDS - 1),
    ).cast("int")
    return (
        feats.select(
            band.alias("band"),
            F.col("y"),
            p.alias("p_fx"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("y").cast("long")).alias("n_pos"),
            F.sum("p_fx").alias("sum_p_fx"),
        )
        .orderBy(F.col("band").asc_nulls_first())
    )
