"""Seeded nearest-centroid domain labeler (DCLM-style domain mixing).

DCLM and Dolma-class curation pipelines assign every document to a
topical domain by nearest-centroid over embeddings, seeded from a small
labeled set, then use the per-domain counts to steer the training
mixture.  This operator is that assignment pass:

1. **Seed centroids** — the deterministic seed subset (``vec_id % 7 = 0``,
   ~1/7 of the corpus at any SF, covers all labels) is averaged per
   label and dimension through DECIMAL(28,12) sums (order-free) with
   ROUND(·,6) means — a k×dim frame (10×64 here) that is broadcast, the
   sim_kmeans_iteration recompute shape.  Production computes this once
   from the labeled seed set and stores it (the PQ codebook
   pattern); corpus size only enters through the seed scan.
2. **Assignment** — every embedding crosses the BROADCAST centroid set
   (k rows — no shuffle of the corpus) and takes its argmax-cosine
   centroid as a partial-aggregatable struct-MIN on (negated rounded
   cosine, label) — the r11 pqmath pattern: map-side combine collapses
   the k candidate rows per vector to ONE before the exchange; a
   row_number window would shuffle and sort all k.
3. **Confusion profile** — per (true_label, pred_label) counts against
   the fixture's label column: the mixing table plus a labeler-quality
   diagnostic in one output.

At 100 TB: step 2 is one corpus scan against a broadcast literal-sized
centroid table with map-side pre-aggregation — the same plan at any
scale; the confusion agg shuffles k² ≤ 100 rows.

Cross-engine determinism: decimal-routed centroid means, cosines
ROUND(·,6) before comparison, label-ascending tiebreak.

Reference parity: SQL2ALL has no ML/embedding surface (658-line core
delegates SQL to the attached DB — src/db/sqlite.rs:79); LLM-pipeline
extension surface (SURVEY.md §2 extension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.domain_core import (  # noqa: F401 (SEED_MOD
    # re-exported: tests and oracles reference it from here)
    SEED_MOD,
    assigned_domains,
    load_vecs,
    seed_centroids,
)
from sql2all_spark.functions.embed import DIM, cosine, cosine_sql, dbl
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table


def _label_oracle() -> str:
    cos = cosine_sql("v.v", "c.cv")
    return f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sdims AS (
  SELECT label,
         UNNEST(range(1, {DIM} + 1)) AS dim,
         UNNEST(v) AS val
  FROM vecs WHERE vec_id % {SEED_MOD} = 0
),
cent AS (
  SELECT label AS c_label, dim,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS m
  FROM sdims GROUP BY label, dim
),
cvec AS (
  SELECT c_label, list(m ORDER BY dim ASC) AS cv FROM cent GROUP BY c_label
),
assign AS (
  SELECT v.vec_id, v.label, c.c_label,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({cos}, 6) DESC, c.c_label ASC) AS rk
  FROM vecs v CROSS JOIN cvec c
)
SELECT label AS true_label, c_label AS pred_label,
       COUNT(*) AS n_vecs
FROM assign WHERE rk = 1
GROUP BY true_label, pred_label
ORDER BY true_label ASC NULLS FIRST, pred_label ASC NULLS FIRST
"""


@register(
    "embed_domain_label",
    oracle=_label_oracle(),
    doc="Seeded nearest-centroid domain labeler (DCLM-style): decimal-"
    "mean centroids from the deterministic labeled seed subset"
    f" (vec_id % {SEED_MOD} = 0, all labels covered), argmax-cosine"
    " assignment of EVERY embedding as a broadcast-cross + struct-MIN"
    " (no row_number argmin — map-side combine collapses the k candidate"
    " rows per vector before the exchange), and the (true_label,"
    " pred_label) confusion counts that drive domain mixing.  One corpus"
    " scan against a broadcast k-row centroid table — the identical plan"
    " at 100 TB.",
)
def embed_domain_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared struct-MIN assignment (functions/domain_core.py) carrying
    # the fixture's true label through the argmin struct
    assigned = assigned_domains(
        load_vecs(spark, sf_dir), with_true_label=True
    ).select("true_label", F.col("domain").alias("pred_label"))
    return (
        assigned.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy(
            F.col("true_label").asc_nulls_first(),
            F.col("pred_label").asc_nulls_first(),
        )
    )


MIX_SCALE = 1_000_000  # fixed-point scale for resampling weights


def _mix_oracle() -> str:
    cos = cosine_sql("v.v", "c.cv")
    return f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sdims AS (
  SELECT label,
         UNNEST(range(1, {DIM} + 1)) AS dim,
         UNNEST(v) AS val
  FROM vecs WHERE vec_id % {SEED_MOD} = 0
),
cent AS (
  SELECT label AS c_label, dim,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS m
  FROM sdims GROUP BY label, dim
),
cvec AS (
  SELECT c_label, list(m ORDER BY dim ASC) AS cv FROM cent GROUP BY c_label
),
assign AS (
  SELECT v.vec_id, c.c_label,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({cos}, 6) DESC, c.c_label ASC) AS rk
  FROM vecs v CROSS JOIN cvec c
),
counts AS (
  SELECT c_label AS domain, COUNT(*) AS n_vecs
  FROM assign WHERE rk = 1 GROUP BY c_label
),
tot AS (
  SELECT SUM(n_vecs) AS n_total,
         COUNT(*) AS n_domains
  FROM counts
)
SELECT c.domain, c.n_vecs,
       CAST(FLOOR({MIX_SCALE}.0 * (CAST(t.n_total AS DOUBLE)
                                   / t.n_domains) / c.n_vecs + 0.5)
            AS BIGINT) AS weight_fx,
       CAST(FLOOR(c.n_vecs
                  * (FLOOR({MIX_SCALE}.0 * (CAST(t.n_total AS DOUBLE)
                                            / t.n_domains) / c.n_vecs + 0.5)
                     / {MIX_SCALE}.0) + 0.5)
            AS BIGINT) AS n_after
FROM counts c, tot t
ORDER BY c.domain ASC NULLS FIRST
"""


@register(
    "embed_domain_mix_weights",
    oracle=_mix_oracle(),
    doc="DoReMi-lite domain resampling weights: run the seeded nearest-"
    "centroid assignment (see embed_domain_label), count per domain, and"
    " emit each domain's fixed-point resampling weight toward the UNIFORM"
    " target mixture — weight_fx = round(SCALE * (total/k) / n_domain) —"
    " plus the expected post-resample count.  The weight table (k rows)"
    " is what a mixing run broadcasts against the corpus; an"
    " over-represented domain gets weight < 1, a rare one > 1"
    " (temperature/target-share variants swap the numerator).  Same"
    " single broadcast-cross + struct-MIN corpus scan as the labeler,"
    " then a k-row aggregate — fixed-point arithmetic end to end.",
)
def embed_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        assigned_domains(load_vecs(spark, sf_dir))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    tot = counts.agg(
        F.sum("n_vecs").alias("n_total"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    w_fx = F.floor(
        F.lit(float(MIX_SCALE))
        * (F.col("n_total").cast("double") / F.col("n_domains"))
        / F.col("n_vecs")
        + F.lit(0.5)
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("weight_fx", w_fx)
        .select(
            "domain",
            "n_vecs",
            "weight_fx",
            F.floor(
                F.col("n_vecs")
                * (F.col("weight_fx") / F.lit(float(MIX_SCALE)))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("n_after"),
        )
        .orderBy(F.col("domain").asc_nulls_first())
    )


def _mix_novelty_oracle() -> str:
    from sql2all_spark.functions.hashing import base_hash_sql
    from sql2all_spark.operators.novelty import NOVELTY_GRAM

    cos = cosine_sql("v.v", "c.cv")
    gram_hash = base_hash_sql(
        f"array_to_string(w[pos:pos + {NOVELTY_GRAM - 1}], ' ')"
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sdims AS (
  SELECT label,
         UNNEST(range(1, {DIM} + 1)) AS dim,
         UNNEST(v) AS val
  FROM vecs WHERE vec_id % {SEED_MOD} = 0
),
cent AS (
  SELECT label AS c_label, dim,
         ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS m
  FROM sdims GROUP BY label, dim
),
cvec AS (
  SELECT c_label, list(m ORDER BY dim ASC) AS cv FROM cent GROUP BY c_label
),
assign AS (
  SELECT v.vec_id, c.c_label,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({cos}, 6) DESC, c.c_label ASC) AS rk
  FROM vecs v CROSS JOIN cvec c
),
d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {NOVELTY_GRAM}
),
g AS (
  SELECT DISTINCT doc_id, {gram_hash} AS h
  FROM (
    SELECT doc_id, w,
           UNNEST(range(1, len(w) - {NOVELTY_GRAM - 1} + 1)) AS pos
    FROM d
  )
),
gtot AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id
),
uniq AS (
  SELECT MIN(doc_id) AS doc_id, CAST(1 AS BIGINT) AS novel
  FROM g GROUP BY h HAVING MIN(doc_id) = MAX(doc_id)
),
novsum AS (
  SELECT doc_id, CAST(SUM(novel) AS BIGINT) AS n_novel
  FROM uniq GROUP BY doc_id
),
nov AS (
  SELECT t.doc_id,
         ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_grams, 6)
           AS novelty
  FROM gtot t LEFT JOIN novsum n ON n.doc_id = t.doc_id
),
joined AS (
  SELECT a.c_label AS domain, COALESCE(nov.novelty, 0.0) AS nv
  FROM assign a LEFT JOIN nov ON nov.doc_id = a.vec_id
  WHERE a.rk = 1
),
dstats AS (
  SELECT domain, COUNT(*) AS n_vecs,
         ROUND(CAST(SUM(CAST(nv AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*),
               6) AS mean_novelty
  FROM joined GROUP BY domain
),
tot AS (
  SELECT SUM(n_vecs) AS n_total,
         COUNT(*) AS n_domains,
         CAST(SUM(CAST(mean_novelty AS DECIMAL(28,12))) AS DOUBLE)
           AS nov_tot
  FROM dstats
)
SELECT domain, n_vecs, mean_novelty, weight_fx,
       CAST(FLOOR(n_vecs * (weight_fx / {MIX_SCALE}.0) + 0.5)
            AS BIGINT) AS n_after
FROM (
  -- ADVICE r14 zero guard: a corpus where every domain's mean novelty
  -- is 0 makes nov_tot 0; fall back to the uniform share 1/k (the
  -- pre-novelty MIX_SCALE target) instead of Infinity/NaN weights.
  SELECT s.domain, s.n_vecs, s.mean_novelty,
         CAST(FLOOR({MIX_SCALE}.0
                    * (CAST(t.n_total AS DOUBLE)
                       * (CASE WHEN t.nov_tot = 0
                               THEN 1.0 / t.n_domains
                               ELSE s.mean_novelty / t.nov_tot END))
                    / s.n_vecs + 0.5)
              AS BIGINT) AS weight_fx
  FROM dstats s, tot t
)
ORDER BY domain ASC NULLS FIRST
"""


@register(
    "embed_domain_mix_novelty",
    oracle=_mix_novelty_oracle(),
    doc="Novelty-weighted domain mixing (VERDICT r13 #5 — the DoReMi"
    " step from uniform toward LEARNED target mixtures): the per-domain"
    " resampling target is no longer uniform but proportional to the"
    " domain's MEAN cross-corpus n-gram novelty (text_ngram_novelty"
    " composed, not re-implemented) — fresh domains get up-weighted,"
    " boilerplate-heavy domains down-weighted.  weight_fx ="
    " round(SCALE * n_total * (mean_nov_d / sum_d mean_nov) / n_d)."
    "  ONE per-doc slim join connects the two green shapes: the"
    " labeler's broadcast-cross + struct-MIN assignment (vec_id,"
    " domain) against the inverted-index novelty score (doc_id,"
    " novelty) over the shared id space (fusion.py fixture note);"
    " everything after is k-row arithmetic on decimal-routed means."
    "  At 100 TB: two corpus scans (embeddings, documents), two"
    " per-doc-slim exchanges, one per-doc join, a k-row broadcast.",
)
def embed_domain_mix_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sql2all_spark.operators.novelty import text_ngram_novelty

    from sql2all_spark.cache import persist_tracked

    assigned = assigned_domains(load_vecs(spark, sf_dir))
    nov = text_ngram_novelty(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "novelty"
    )
    # persisted (guide §5): dstats is k rows but its lineage is the
    # whole assignment + novelty composition (two corpus scans); both
    # the `tot` broadcast build and the crossJoin probe read it — the
    # cache halves the query (4 embeddings scans -> 2 in the before
    # plan, plans/r16/embed_domain_mix_novelty_before.txt).
    dstats = (
        assigned.join(nov, "vec_id", "left")
        .select("domain", F.coalesce("novelty", F.lit(0.0)).alias("nv"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("nv").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_novelty"),
        )
        .transform(persist_tracked)
    )
    tot = dstats.agg(
        F.sum("n_vecs").alias("n_total"),
        F.count(F.lit(1)).alias("n_domains"),
        F.sum(F.col("mean_novelty").cast("decimal(28,12)"))
        .cast("double")
        .alias("nov_tot"),
    )
    # ADVICE r14 zero guard: all-zero mean novelty -> uniform 1/k share
    # (the pre-novelty MIX_SCALE target) instead of Infinity/NaN weights.
    share = F.when(
        F.col("nov_tot") == 0, F.lit(1.0) / F.col("n_domains")
    ).otherwise(F.col("mean_novelty") / F.col("nov_tot"))
    w_fx = F.floor(
        F.lit(float(MIX_SCALE))
        * (F.col("n_total").cast("double") * share)
        / F.col("n_vecs")
        + F.lit(0.5)
    ).cast("long")
    return (
        dstats.crossJoin(F.broadcast(tot))
        .withColumn("weight_fx", w_fx)
        .select(
            "domain",
            "n_vecs",
            "mean_novelty",
            "weight_fx",
            F.floor(
                F.col("n_vecs")
                * (F.col("weight_fx") / F.lit(float(MIX_SCALE)))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("n_after"),
        )
        .orderBy(F.col("domain").asc_nulls_first())
    )
