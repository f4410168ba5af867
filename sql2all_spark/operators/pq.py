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
- the one wide exchange is the codebook-refinement partial aggregate
  over slim (m, code, dim, val) rows (map-side combine);
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

Training parity: one seeded k-means refinement round per subspace — the
same assign→recompute unit sim_kmeans_iteration proves in isolation;
production would loop it (driver-side iteration, lineage truncated per
round) without changing any per-round plan below.

Reference parity: SQL2ALL has no vector surface (658-line core delegates
SQL to the attached DB — src/db/sqlite.rs:79); the similarity family
exists for the 100 TB LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.functions.embed import DIM, dbl

# Core PQ math lives in functions/pqmath.py (non-registering), shared
# with the IVF-PQ and train-loop operators; constants/fragments are
# aliased to keep this module's oracle
# text byte-identical to its pre-refactor form.
from sql2all_spark.functions.pqmath import (
    PQ_K,
    PQ_M,
    PQ_SEED_IDS,
    PQ_SUB,
    adc_score,
    adc_table,
    dist2 as _dist2,
    dist2_sql as _dist2_sql,
    encode,
    refined_codebook,
    subvector_frame,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table

PQ_PROBE_ID = 0
PQ_SHORTLIST = 100  # ADC candidates re-ranked exactly
PQ_TOPK = 10


def _pq_oracle() -> str:
    seeds = ", ".join(str(i) for i in PQ_SEED_IDS)
    d2 = _dist2_sql("s.sv", "c.cv")
    d2r = _dist2_sql("s.sv", "c.cv1")
    qd2 = _dist2_sql("q.sv", "c.cv1")
    full = _dist2_sql("v.v", "qv.v", DIM)
    return f"""
WITH vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
subs AS (
  SELECT vec_id, m,
         list_slice(v, m * {PQ_SUB} + 1, (m + 1) * {PQ_SUB}) AS sv
  FROM vecs, (SELECT UNNEST(range(0, {PQ_M})) AS m)
),
cb0 AS (
  SELECT s.m, ROW_NUMBER() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS c,
         s.sv AS cv
  FROM subs s WHERE s.vec_id IN ({seeds})
),
assign0 AS (
  SELECT s.vec_id, s.m, s.sv, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2}, 6) ASC, c.c ASC) AS rk
  FROM subs s JOIN cb0 c ON s.m = c.m
),
member AS (SELECT vec_id, m, sv, c FROM assign0 WHERE rk = 1),
dims AS (
  SELECT m, c, UNNEST(range(1, {PQ_SUB} + 1)) AS dim, UNNEST(sv) AS val
  FROM member
),
cb1 AS (
  SELECT m, c, list(mean_val ORDER BY dim) AS cv1
  FROM (
    SELECT m, c, dim,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_val
    FROM dims GROUP BY m, c, dim
  ) GROUP BY m, c
),
encode AS (
  SELECT s.vec_id, s.m, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2r}, 6) ASC, c.c ASC) AS rk
  FROM subs s JOIN cb1 c ON s.m = c.m
),
codes AS (SELECT vec_id, m, c FROM encode WHERE rk = 1),
adctab AS (
  SELECT q.m, c.c, ROUND({qd2}, 6) AS qd2
  FROM subs q JOIN cb1 c ON q.m = c.m
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


@register(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(),
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
    from sql2all_spark.cache import materialize_tracked, persist_tracked

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    # (vec_id, m, sv): M slim subvector rows per vector — persisted, reused
    # by refinement-assign, encode, and the probe's ADC row.
    subs = subvector_frame(vecs).transform(persist_tracked)

    # seed codebooks + one k-means refinement round (pqmath; M*K = 256
    # slim rows re-assembled into ordered arrays), then encode + ADC.
    # Persisted: consumed by the encode broadcast AND the ADC-table
    # broadcast — one training run instead of two (guide §5).
    cb1 = refined_codebook(subs).transform(materialize_tracked)
    codes = encode(subs, cb1)
    adctab = adc_table(subs, cb1, PQ_PROBE_ID)
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
            F.round(_dist2(F.col("v"), F.col("pv")), 6).alias("exact_dist2"),
        )
        .orderBy(
            F.col("exact_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(PQ_TOPK)
    )
