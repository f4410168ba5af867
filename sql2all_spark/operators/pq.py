"""Product quantization (PQ) ANN: subspace codebooks + asymmetric-distance
shortlist + exact re-rank — the memory-compression leg of the similarity
family.

Jégou et al., "Product Quantization for Nearest Neighbor Search" (TPAMI
2011): split each vector into M subvectors, learn a small codebook per
subspace (k-means), store each vector as M small codes, and score a
probe with an M×K table of probe-subvector↔centroid distances (ADC —
asymmetric distance computation).  This is how billion-vector indexes
fit in RAM: 64 doubles (512 B) become 16 nibble codes (8 B) here, and
the shortlist scan never touches the original vectors.  As in
production systems (FAISS IVFPQ+refine), ADC is the SHORTLIST stage:
the top-R candidates by quantized distance are re-ranked by exact
distance, which restores recall the quantization loses (measured on the
fixtures: exact-rerank recall@10 is 10/10 at sf0.001, 9/10 at sf0.01,
8/10 at sf0.1 with R=100, versus 0-4/10 ranking by raw ADC alone on
these unstructured synthetic vectors).

Spark shape (the 100 TB story):

- codebooks are M×K = 256 slim rows — broadcast at every stage, never
  shuffled;
- the one wide exchange per training round is the codebook-refinement
  partial aggregate over slim (m, code, dim, val) rows (map-side
  combine);
- encoding is a broadcast join + row-local argmin — linear scan, no
  shuffle;
- the ADC table is M×K scored rows broadcast back, the shortlist is a
  bounded heap (TakeOrderedAndProject), and the re-rank hydrates ONLY
  the R shortlisted vectors (broadcast semi-join) before a second
  bounded heap.

Determinism (both engines, bit-for-bit before 6dp rounding): subvector
distances fold left-to-right over double-cast elements (the
functions/embed.py discipline), refined centroid means route through
DECIMAL(28,12) sums, per-subspace ADC entries are rounded to 6dp and
summed as DECIMAL(18,6) so the total is order-independent, and every
argmin/rank carries an id tiebreak.

Training: ``pqmath.train_codebook`` runs seeded k-means rounds per
subspace — the same assign→recompute unit sim_kmeans_iteration proves in
isolation.  One builder and one oracle serve two registrations:
``sim_pq_adc_topk`` trains for 1 round, ``sim_pq_train_loop`` for
``PQ_TRAIN_ROUNDS`` (Jégou et al. 2011 §III train to k-means
convergence).  Each round's codebook re-enters as a collected literal,
so lineage stays flat and every round plans identically.  Both loop
steps are non-increasing in total quantization error (assignment picks
the argmin; the mean minimizes within-cluster squared distance), a
tested invariant (6dp centroid rounding bounds the wobble).  The oracle unrolls the same rounds as CTE pairs
(``pqmath.train_codebook_ctes``) — byte-identical arithmetic, since the
collected literals carry the exact rounded doubles.

Reference parity: SQL2ALL has no vector surface (658-line core delegates
SQL to the attached DB — src/db/sqlite.rs:79); the similarity family
exists for the 100 TB LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.embed import DIM, dbl
from sql2all_spark.functions.pqmath import (  # noqa: F401 (PQ_K, PQ_M:
    # tests import them from here)
    PQ_K,
    PQ_M,
    adc_score,
    adc_table,
    dist2,
    dist2_sql,
    encode,
    subvector_ctes,
    subvector_frame,
    train_codebook,
    train_codebook_ctes,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

PQ_PROBE_ID = 0
PQ_SHORTLIST = 100  # ADC candidates re-ranked exactly
PQ_TOPK = 10
PQ_TRAIN_ROUNDS = 3


def _pq_oracle(rounds: int) -> str:
    d2 = dist2_sql("s.sv", f"c.cv{rounds}")
    qd2 = dist2_sql("q.sv", f"c.cv{rounds}")
    full = dist2_sql("v.v", "qv.v", DIM)
    return f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{subvector_ctes("subs", "vecs")},
{train_codebook_ctes("subs", rounds)},
enc AS (
  SELECT s.vec_id, s.m, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2}, 6) ASC, c.c ASC) AS rk
  FROM subs s JOIN cb{rounds} c ON s.m = c.m
),
codes AS (SELECT vec_id, m, c FROM enc WHERE rk = 1),
adctab AS (
  SELECT q.m, c.c, ROUND({qd2}, 6) AS qd2
  FROM subs q JOIN cb{rounds} c ON q.m = c.m
  WHERE q.vec_id = {PQ_PROBE_ID}
),
scored AS (
  SELECT k.vec_id,
         string_agg(CAST(k.c AS VARCHAR), '-' ORDER BY k.m) AS pq_code,
         ROUND(CAST(SUM(CAST(a.qd2 AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS adc_dist2
  FROM codes k JOIN adctab a ON k.m = a.m AND k.c = a.c
  GROUP BY k.vec_id
),
shortlist AS (
  SELECT vec_id, pq_code, adc_dist2 FROM scored
  WHERE vec_id != {PQ_PROBE_ID}
  ORDER BY adc_dist2 ASC, vec_id ASC
  LIMIT {PQ_SHORTLIST}
)
SELECT s.vec_id, v.label, s.pq_code, s.adc_dist2,
       ROUND({full}, 6) AS exact_dist2
FROM shortlist s
JOIN vecs v ON s.vec_id = v.vec_id
CROSS JOIN (SELECT v FROM vecs WHERE vec_id = {PQ_PROBE_ID}) qv
ORDER BY exact_dist2 ASC, s.vec_id ASC
LIMIT {PQ_TOPK}
"""


def _pq_topk(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """PQ+ADC shortlist + exact re-rank with codebooks trained for
    ``rounds`` k-means rounds (the body of both registrations)."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    # (vec_id, m, sv): M slim subvector rows per vector — persisted, reused
    # by every training round, encode, and the probe's ADC row.
    subs = subvector_frame(vecs).transform(persist_tracked)
    cb = train_codebook(subs, rounds)
    codes = encode(subs, cb)
    adctab = adc_table(subs, cb, PQ_PROBE_ID)
    shortlist = (
        adc_score(codes, adctab)
        .filter(F.col("vec_id") != PQ_PROBE_ID)
        .orderBy(
            F.col("adc_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(PQ_SHORTLIST)
    )
    # exact re-rank: hydrate ONLY the R shortlisted vectors (broadcast the
    # slim shortlist into the join) against the probe vector
    qv = vecs.filter(F.col("vec_id") == PQ_PROBE_ID).select(
        F.col("v").alias("pv")
    )
    return (
        vecs.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "pq_code",
            "adc_dist2",
            F.round(dist2(F.col("v"), F.col("pv")), 6).alias("exact_dist2"),
        )
        .orderBy(
            F.col("exact_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(PQ_TOPK)
    )


@register(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(1),
    doc="Product-quantization ANN with exact re-rank (Jégou et al. 2011;"
    " the FAISS PQ+refine shape): 16 subspaces of 4 dims, K=16 codebook"
    " per subspace seeded from fixed vec_ids and refined by one k-means"
    " round, every vector encoded as 16 codes (512 B -> 8 B), probe"
    " shortlisted to the ADC top-100 via the broadcast M×K"
    " asymmetric-distance table, then ONLY the shortlist hydrated for"
    " exact-distance top-10 (measured recall@10 vs brute force: 10/9/8"
    " across sf0.001/0.01/0.1).  Codebooks and the ADC table broadcast"
    " everywhere; the only wide exchange is the slim refinement"
    " aggregate; both rankings are bounded heaps — the PQ memory story"
    " with no all-pairs anywhere.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_topk(spark, sf_dir, 1)


@register(
    "sim_pq_train_loop",
    oracle=_pq_oracle(PQ_TRAIN_ROUNDS),
    doc=f"PQ+ADC+refine with codebooks trained for {PQ_TRAIN_ROUNDS} k-means"
    " rounds instead of pq.py's single refinement (Jégou et al. train to"
    " convergence): per round, one broadcast assign + one slim partial-"
    " aggregated recompute; the 256-row codebook collects to the driver and"
    " re-enters as a literal, so lineage stays flat and every round's plan"
    " is IDENTICAL (plan-pinned).  Total quantization error is non-"
    " increasing per round (k-means monotonicity, tested); the unrolled-CTE"
    " oracle proves the full chain including the final ANN answer.",
)
def sim_pq_train_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_topk(spark, sf_dir, PQ_TRAIN_ROUNDS)
