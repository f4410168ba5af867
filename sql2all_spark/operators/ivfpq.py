"""IVF-PQ ANN: coarse-cell routing + product-quantized shortlist + exact
re-rank — the composition of the repo's IVF leg (similarity.sim_ivf_topk)
and PQ leg (pq.sim_pq_adc_topk), i.e. the FAISS ``IVFPQ + refine`` shape
that is the production billion-vector index (Jégou et al. 2011 §V;
Johnson et al. 2017 "Billion-scale similarity search with GPUs").

Pipeline:

  1. ROUTE — every vector is assigned to its nearest of 8 coarse
     centroids (squared L2, 6dp rounding, centroid-id tiebreak); the
     probe routes to its nprobe=2 nearest cells.  At 100 TB the cell id
     is a stored partition column, so a probe scan prunes to nprobe/K of
     the corpus at the parquet level (the sim_lsh_ann_indexed pattern).
  2. ADC — ONLY the probed cells' members are PQ-encoded and scored
     against the probe's broadcast M×K asymmetric-distance table; the
     shortlist is a bounded heap.  Codebooks are trained corpus-wide
     (index build time, one slim partial-aggregated exchange).
  3. REFINE — only the R shortlisted vectors are hydrated for exact
     squared-L2 top-k (broadcast semi-join + second bounded heap).

  This index scores ``nprobe/K``-th of the corpus with 8-byte codes and
  touches full vectors for R rows only — memory AND scan win at once.

Non-residual variant: codes quantize the raw vectors, not the
vector-minus-centroid residuals (FAISS ``by_residual=false``) — one
codebook set serves all cells, which is what lets the encode stage stay
a broadcast join here and lets a stored index share one code dictionary
across partitions.

The batch multi-probe variant (``sim_ivf_batch_multiprobe``) applies
the ann_multiprobe.py lesson to IVF routing: a BATCH of probes routes
to each probe's nprobe nearest cells via one equi-join on the cell id —
no per-probe collect, no per-probe job — and ranks exactly within the
gathered candidates (bounded per-probe heap via WindowGroupLimit).

Reference parity: SQL2ALL has no vector surface (its 658-line core
delegates SQL to the attached DB — src/db/sqlite.rs:79); this module
belongs to the LLM-pipeline extension surface (SURVEY.md §2 extension
table, VERDICT r10 next-round items 2-3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import materialize_tracked, persist_tracked
from sql2all_spark.functions.embed import DIM, dbl
from sql2all_spark.functions.pqmath import (
    PQ_CODEBOOK_SCHEMA,
    PQ_K,
    PQ_M,
    PQ_SUB,
    adc_score,
    adc_table,
    dist2,
    dist2_sql,
    encode,
    packed_codes,
    subvector_ctes,
    subvector_frame,
    train_codebook,
    train_codebook_ctes,
)
from sql2all_spark.registry import register
from sql2all_spark.tables import load_table, scratch_root

IVFPQ_CENT_IDS = list(range(1, 9))  # deterministic "trained" coarse centroids
IVFPQ_NPROBE = 2
IVFPQ_PROBE_ID = 0
IVFPQ_SHORTLIST = 64  # ADC candidates re-ranked exactly
IVFPQ_TOPK = 10

BATCH_PROBE_IDS = [0, 101, 202, 303]  # the query batch
BATCH_TOPK = 5


def _cells_sql() -> str:
    """Shared oracle CTEs: coarse assignment + per-vector cell (rk=1)."""
    cents = ", ".join(str(i) for i in IVFPQ_CENT_IDS)
    d2 = dist2_sql("v.v", "c.cv", DIM)
    return f"""
vecs AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id IN ({cents})
),
assign AS (
  SELECT v.vec_id, v.label, v.v, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND({d2}, 6) ASC, c.cent_id ASC) AS rk
  FROM vecs v CROSS JOIN cents c
),
cells AS (SELECT vec_id, label, v, cent_id FROM assign WHERE rk = 1)"""


def _ivfpq_oracle() -> str:
    d2r = dist2_sql("s.sv", "c.cv1")
    qd2 = dist2_sql("q.sv", "c.cv1")
    full = dist2_sql("d.v", "qv.v", DIM)
    return f"""
WITH {_cells_sql()},
probes AS (
  SELECT cent_id FROM assign
  WHERE vec_id = {IVFPQ_PROBE_ID} AND rk <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT c.vec_id, c.label, c.v, c.cent_id
  FROM cells c JOIN probes p USING (cent_id)
  WHERE c.vec_id <> {IVFPQ_PROBE_ID}
),
{subvector_ctes("subs", "vecs")},
{train_codebook_ctes("subs", 1)},
enc AS (
  SELECT s.vec_id, s.m, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2r}, 6) ASC, c.c ASC) AS rk
  FROM subs s JOIN cb1 c ON s.m = c.m
  WHERE s.vec_id IN (SELECT vec_id FROM cand)
),
codes AS (SELECT vec_id, m, c FROM enc WHERE rk = 1),
adctab AS (
  SELECT q.m, c.c, ROUND({qd2}, 6) AS qd2
  FROM subs q JOIN cb1 c ON q.m = c.m
  WHERE q.vec_id = {IVFPQ_PROBE_ID}
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
  ORDER BY adc_dist2 ASC, vec_id ASC
  LIMIT {IVFPQ_SHORTLIST}
)
SELECT s.vec_id, d.label, d.cent_id, s.pq_code, s.adc_dist2,
       ROUND({full}, 6) AS exact_dist2
FROM shortlist s
JOIN cand d ON s.vec_id = d.vec_id
CROSS JOIN (SELECT v FROM vecs WHERE vec_id = {IVFPQ_PROBE_ID}) qv
ORDER BY exact_dist2 ASC, s.vec_id ASC
LIMIT {IVFPQ_TOPK}
"""


def _route_cells(
    vecs: DataFrame,
    nprobe: int = IVFPQ_NPROBE,
    cents: DataFrame | None = None,
):
    """(cells, probes): coarse assignment of every vector to its nearest
    centroid, and the probe's top-``nprobe`` cell ids (slim, broadcast).

    The corpus side is a broadcast cross of the 8 centroid rows followed
    by a partial-aggregatable struct MIN keyed on (rounded-d2, cent_id)
    — map-side combine collapses the 8 candidate rows per vector to ONE
    before the exchange (same keeper-select pattern as
    pqmath.assign_nearest; a row_number window here shuffled and sorted
    all 8).  The probe's nprobe-cell route is a bounded heap over the
    single probe row's 8 candidates.

    ``cents`` overrides the centroid frame — the stored-index build
    routes a PARTIAL source (e.g. the refresh demo's base corpus)
    against the full trained centroid set, which the source may not
    contain."""
    if cents is None:
        cents = vecs.filter(F.col("vec_id").isin(IVFPQ_CENT_IDS)).select(
            F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
        )
    scored = (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("d2", dist2(F.col("v"), F.col("cv")))
    )
    cells = (
        scored.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 6).alias("d"),
                    F.col("cent_id").alias("cent_id"),
                    F.col("label").alias("label"),
                    F.col("v").alias("v"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            F.col("b.label").alias("label"),
            F.col("b.v").alias("v"),
            F.col("b.cent_id").alias("cent_id"),
        )
    )
    probes = (
        scored.filter(F.col("vec_id") == IVFPQ_PROBE_ID)
        .orderBy(F.round(F.col("d2"), 6).asc(), F.col("cent_id").asc())
        .limit(nprobe)
        .select("cent_id")
    )
    return cells, probes


@register(
    "sim_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc="IVF-PQ with exact refine (FAISS IVFPQ+refine, non-residual): route"
    f" every vector to its nearest of {len(IVFPQ_CENT_IDS)} coarse cells and"
    f" the probe to its nprobe={IVFPQ_NPROBE} nearest; PQ-encode and"
    " ADC-score ONLY the probed cells' members against the broadcast M×K"
    f" distance table; exact-re-rank the top-{IVFPQ_SHORTLIST} shortlist to"
    f" the final top-{IVFPQ_TOPK}.  Cell routing and codebooks broadcast"
    " everywhere; the candidate scan is cell-pruned BEFORE any scoring"
    " (plan-pinned) — at 100 TB the cell is a partition column and the"
    " probe reads nprobe/K of the corpus.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_topk_impl(spark, sf_dir)


def ivfpq_topk_impl(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFPQ_NPROBE
) -> DataFrame:
    """Non-residual IVF-PQ with a parametrizable nprobe — the registered
    query pins nprobe=IVFPQ_NPROBE (the oracle is generated for that
    constant); tools/ann_quality.py sweeps nprobe for the recall ledger."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    cells, probes = _route_cells(vecs, nprobe)
    cand = cells.filter(F.col("vec_id") != IVFPQ_PROBE_ID).join(
        F.broadcast(probes), "cent_id"
    )
    subs = subvector_frame(vecs).transform(persist_tracked)
    # the trained codebook is a collected literal: the encode broadcast
    # and the ADC-table broadcast both read its 256 rows, never retrain
    cb1 = train_codebook(subs, 1)
    # encode ONLY the probed cells' members: the candidate id set prunes
    # the subvector frame before any codebook work (at scale: a partition-
    # pruned scan of the stored code table)
    cand_subs = subs.join(cand.select("vec_id"), "vec_id")
    codes = encode(cand_subs, cb1)
    adctab = adc_table(subs, cb1, IVFPQ_PROBE_ID)
    shortlist = (
        adc_score(codes, adctab)
        .orderBy(
            F.col("adc_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_SHORTLIST)
    )
    qv = vecs.filter(F.col("vec_id") == IVFPQ_PROBE_ID).select(
        F.col("v").alias("pv")
    )
    return (
        cand.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "cent_id",
            "pq_code",
            "adc_dist2",
            F.round(dist2(F.col("v"), F.col("pv")), 6).alias("exact_dist2"),
        )
        .orderBy(
            F.col("exact_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_TOPK)
    )


def _batch_oracle() -> str:
    ids = ", ".join(str(i) for i in BATCH_PROBE_IDS)
    d2p = dist2_sql("a.v", "c.cv", DIM)
    full = dist2_sql("m.v", "p.v", DIM)
    return f"""
WITH {_cells_sql()},
passign AS (
  SELECT a.vec_id AS probe_id, a.v, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND({d2p}, 6) ASC, c.cent_id ASC) AS rk
  FROM vecs a CROSS JOIN cents c
  WHERE a.vec_id IN ({ids})
),
proutes AS (
  SELECT probe_id, v, cent_id FROM passign WHERE rk <= {IVFPQ_NPROBE}
),
scored AS (
  SELECT p.probe_id, m.vec_id, m.label, m.cent_id,
         ROUND({full}, 6) AS dist2,
         ROW_NUMBER() OVER (
           PARTITION BY p.probe_id
           ORDER BY ROUND({full}, 6) ASC, m.vec_id ASC) AS rk
  FROM proutes p JOIN cells m USING (cent_id)
  WHERE m.vec_id <> p.probe_id
)
SELECT probe_id, CAST(rk AS INT) AS rk, vec_id, label, cent_id, dist2
FROM scored WHERE rk <= {BATCH_TOPK}
"""


@register(
    "sim_ivf_batch_multiprobe",
    oracle=_batch_oracle(),
    doc="Batch multi-probe IVF: a BATCH of probe vectors each routes to its"
    f" nprobe={IVFPQ_NPROBE} nearest coarse cells and gathers candidates via"
    " ONE equi-join on the cell id (the ann_multiprobe pattern applied to"
    " IVF routing — no per-probe collect, no per-probe job), then exact"
    f" top-{BATCH_TOPK} per probe through a bounded per-group heap"
    " (row_number + filter → WindowGroupLimit).  The probe-route frame is"
    " probes×nprobe slim rows, broadcast into the candidate join; the"
    " candidate scan is cell-pruned, never the full corpus per probe.",
)
def sim_ivf_batch_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    cells, _ = _route_cells(vecs)
    routes = batch_routes(vecs, IVFPQ_NPROBE)
    rk = F.row_number().over(
        Window.partitionBy("probe_id").orderBy(
            F.col("dist2").asc(), F.col("vec_id").asc()
        )
    )
    return (
        cells.join(F.broadcast(routes), "cent_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            "cent_id",
            F.round(dist2(F.col("v"), F.col("pv")), 6).alias("dist2"),
        )
        .withColumn("rk", rk)
        .filter(F.col("rk") <= BATCH_TOPK)
        .select(
            "probe_id", F.col("rk").cast("int").alias("rk"),
            "vec_id", "label", "cent_id", "dist2",
        )
    )


def batch_routes(vecs: DataFrame, nprobe: int) -> DataFrame:
    """(probe_id, pv, cent_id): each batch probe's ``nprobe`` nearest cell
    ids, carried with the probe vector — |batch| × nprobe slim rows,
    broadcast into the candidate equi-join.  Exposed (not inlined) so the
    recall-superset invariant test can compare nprobe levels."""
    from pyspark.sql.window import Window

    cents = vecs.filter(F.col("vec_id").isin(IVFPQ_CENT_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    rk = F.row_number().over(
        Window.partitionBy("probe_id").orderBy(
            F.round(F.col("d2"), 6).asc(), F.col("cent_id").asc()
        )
    )
    return (
        vecs.filter(F.col("vec_id").isin(BATCH_PROBE_IDS))
        .select(F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"))
        .crossJoin(F.broadcast(cents))
        .withColumn("d2", dist2(F.col("pv"), F.col("cv")))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= nprobe)
        .select("probe_id", "pv", "cent_id")
    )


def _residual_oracle() -> str:
    d2r = dist2_sql("s.sv", "c.cv1")
    qd2 = dist2_sql("p.sv", "c.cv1")
    full = dist2_sql("d.v", "qv.v", DIM)
    sub_res = f"list_transform(range(1, {DIM} + 1), i -> c.v[i] - ct.cv[i])"
    sub_pres = f"list_transform(range(1, {DIM} + 1), i -> q.v[i] - ct.cv[i])"
    return f"""
WITH {_cells_sql()},
probes AS (
  SELECT cent_id FROM assign
  WHERE vec_id = {IVFPQ_PROBE_ID} AND rk <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT c.vec_id, c.label, c.v, c.cent_id
  FROM cells c JOIN probes p USING (cent_id)
  WHERE c.vec_id <> {IVFPQ_PROBE_ID}
),
res AS (
  SELECT c.vec_id, {sub_res} AS v
  FROM cells c JOIN cents ct USING (cent_id)
),
{subvector_ctes("rsubs", "res")},
{train_codebook_ctes("rsubs", 1)},
enc AS (
  SELECT s.vec_id, s.m, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2r}, 6) ASC, c.c ASC) AS rk
  FROM rsubs s JOIN cb1 c ON s.m = c.m
  WHERE s.vec_id IN (SELECT vec_id FROM cand)
),
codesc AS (
  SELECT e.vec_id, d.cent_id, e.m, e.c
  FROM enc e JOIN cand d ON e.vec_id = d.vec_id
  WHERE e.rk = 1
),
prres AS (
  SELECT ct.cent_id, {sub_pres} AS v
  FROM probes pr JOIN cents ct USING (cent_id)
  CROSS JOIN (SELECT v FROM vecs WHERE vec_id = {IVFPQ_PROBE_ID}) q
),
{subvector_ctes("psubs", "prres", key="cent_id")},
padc AS (
  SELECT p.cent_id, p.m, c.c, ROUND({qd2}, 6) AS qd2
  FROM psubs p JOIN cb1 c ON p.m = c.m
),
scored AS (
  SELECT k.vec_id,
         string_agg(CAST(k.c AS VARCHAR), '-' ORDER BY k.m) AS pq_code,
         ROUND(CAST(SUM(CAST(a.qd2 AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS adc_dist2
  FROM codesc k
  JOIN padc a ON k.cent_id = a.cent_id AND k.m = a.m AND k.c = a.c
  GROUP BY k.vec_id
),
shortlist AS (
  SELECT vec_id, pq_code, adc_dist2 FROM scored
  ORDER BY adc_dist2 ASC, vec_id ASC
  LIMIT {IVFPQ_SHORTLIST}
)
SELECT s.vec_id, d.label, d.cent_id, s.pq_code, s.adc_dist2,
       ROUND({full}, 6) AS exact_dist2
FROM shortlist s
JOIN cand d ON s.vec_id = d.vec_id
CROSS JOIN (SELECT v FROM vecs WHERE vec_id = {IVFPQ_PROBE_ID}) qv
ORDER BY exact_dist2 ASC, s.vec_id ASC
LIMIT {IVFPQ_TOPK}
"""


def _residual(v, cv):
    return F.zip_with(v, cv, lambda a, b: a - b)


@register(
    "sim_ivfpq_residual_topk",
    oracle=_residual_oracle(),
    doc="Residual IVF-PQ with exact refine (FAISS by_residual=true, the"
    " production default): vectors are PQ-encoded as RESIDUALS from their"
    " coarse centroid — residuals are smaller and better centered than raw"
    " vectors, so the same byte budget quantizes finer.  The probe's"
    " residual differs PER PROBED CELL, so the ADC table is nprobe x M x K"
    " rows (still a broadcast); candidates join it on (cent_id, m, code)."
    "  Routing, cell pruning, shortlist and refine are exactly the"
    " non-residual sim_ivfpq_topk's — measured ADC fidelity of both is"
    " recorded in PERF_NOTES.",
)
def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_residual_impl(spark, sf_dir)


def ivfpq_residual_impl(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFPQ_NPROBE
) -> DataFrame:
    """Residual IVF-PQ with a parametrizable nprobe (see ivfpq_topk_impl)."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    cells, probes = _route_cells(vecs, nprobe)
    cells = cells.transform(persist_tracked)
    cents_cv = vecs.filter(F.col("vec_id").isin(IVFPQ_CENT_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    cand = cells.filter(F.col("vec_id") != IVFPQ_PROBE_ID).join(
        F.broadcast(probes), "cent_id"
    )
    # residual frame: row-local subtraction after the (broadcast) centroid
    # join — at scale this is computed once at index-build time and stored
    res = cells.join(F.broadcast(cents_cv), "cent_id").select(
        "vec_id", _residual(F.col("v"), F.col("cv")).alias("v")
    )
    rsubs = subvector_frame(res).transform(persist_tracked)
    cb1 = train_codebook(rsubs, 1)
    codes = encode(rsubs.join(cand.select("vec_id"), "vec_id"), cb1)
    codesc = codes.join(cand.select("vec_id", "cent_id"), "vec_id")
    # per-probed-cell ADC table: the probe's residual w.r.t. EACH probed
    # cell's centroid — nprobe x M x K slim rows, broadcast
    q1 = vecs.filter(F.col("vec_id") == IVFPQ_PROBE_ID).select("v")
    prres = (
        probes.join(F.broadcast(cents_cv), "cent_id")
        .crossJoin(F.broadcast(q1))
        .select("cent_id", _residual(F.col("v"), F.col("cv")).alias("rv"))
    )
    padc = (
        prres.select(
            "cent_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice("rv", m * PQ_SUB + 1, PQ_SUB)
                        for m in range(PQ_M)
                    ]
                )
            ).alias("m", "sv"),
        )
        .join(F.broadcast(cb1), "m")
        .select(
            "cent_id",
            "m",
            "c",
            F.round(dist2(F.col("sv"), F.col("cv")), 6).alias("qd2"),
        )
    )
    shortlist = (
        codesc.join(F.broadcast(padc), ["cent_id", "m", "c"])
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("m", "c"))),
                    lambda s: s.c.cast("string"),
                ),
            ).alias("pq_code"),
            F.round(
                F.sum(F.col("qd2").cast("decimal(18,6)")).cast("double"), 6
            ).alias("adc_dist2"),
        )
        .orderBy(
            F.col("adc_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_SHORTLIST)
    )
    qv = vecs.filter(F.col("vec_id") == IVFPQ_PROBE_ID).select(
        F.col("v").alias("pv")
    )
    return (
        cand.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            "cent_id",
            "pq_code",
            "adc_dist2",
            F.round(dist2(F.col("v"), F.col("pv")), 6).alias("exact_dist2"),
        )
        .orderBy(
            F.col("exact_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Stored IVF-PQ index: build / refresh / query split (VERDICT r11 #2).
#
# sim_ivfpq_topk trains codebooks and routes cells PER RUN — the correct
# algorithm demo, but production (FAISS IVFPQ on disk, SPANN, ScaNN
# serving) trains ONCE and stores.  The build leg materializes
#
#   {root}/{sf}.parquet/cent_id=<k>/...  (vec_id, label, v, codes[M])
#   {root}/{sf}_codebook.parquet         (m, c, cv)     — 256 rows
#   {root}/{sf}_centroids.parquet        (cent_id, cv)  — 8 rows
#
# and the query leg reads ONLY the probed cells' partitions (static
# PartitionFilters, the sim_lsh_ann_indexed pattern): probe routing is a
# 2-row collect against the 8 stored centroids, the ADC table collects
# as 256 exact micro-unit longs into a literal map, and the scan itself
# is JOIN-FREE — per-row ADC is a map lookup folded over the stored code
# array, the shortlist and final ranking are bounded heaps, and the
# exact refine reuses the stored vector column row-locally.  At 100 TB
# the query touches nprobe/K of the files and shuffles NOTHING.
# ---------------------------------------------------------------------------

# Stored-index root; None means ivfpq_index_root()'s per-process default.
IVFPQ_INDEX_ROOT: str | None = None
# explicit read schema: partition-column inference must not narrow
# cent_id (stored as dir names) away from the oracle's BIGINT
IVFPQ_INDEX_SCHEMA = (
    "vec_id bigint, label int, v array<double>, codes array<int>,"
    " cent_id bigint"
)


def ivfpq_index_root() -> str:
    """``IVFPQ_INDEX_ROOT`` when set, else ``ivfpq_index`` under the
    per-process :func:`~sql2all_spark.tables.scratch_root`."""
    return IVFPQ_INDEX_ROOT or os.path.join(scratch_root(), "ivfpq_index")


def _index_path(sf_dir: str, suffix: str = "") -> str:
    return (
        f"{ivfpq_index_root()}/{sf_dir.strip('/').replace('/', '_')}"
        f"{suffix}.parquet"
    )


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
    train_source: DataFrame | None = None,
    suffix: str = "",
) -> str:
    """Train coarse centroids + PQ codebooks from ``train_source`` and
    materialize the cell-partitioned code table for ``source``.

    ``train_source`` defaults to ``source`` (defaults to the full
    embeddings table).  Separating the two is the FAISS contract —
    ``train()`` sees a bounded sample, ``add()`` streams the corpus —
    and it is what lets :func:`refresh_ivfpq_index` append a batch
    without retraining: centroids and codebooks are FROZEN model
    artifacts stored beside the codes."""
    e = source if source is not None else load_table(spark, sf_dir, "embeddings")
    t = train_source if train_source is not None else e
    vecs = e.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    ).transform(persist_tracked)
    tvecs = t.select("vec_id", dbl(F.col("embedding")).alias("v"))
    cents = tvecs.filter(F.col("vec_id").isin(IVFPQ_CENT_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    ).transform(materialize_tracked)
    # persisted (guide §5): cents feeds the routing broadcast AND the
    # centroid sidecar write — without the cache the centroid scan
    # executes twice per build.  cb is a collected literal (it feeds the
    # encode broadcast AND the codebook sidecar write without retraining).
    cb = train_codebook(subvector_frame(tvecs), 1)
    cells, _ = _route_cells(vecs, cents=cents)
    codes = packed_codes(subvector_frame(vecs), cb)
    idx = cells.join(codes, "vec_id").select(
        "vec_id", "label", "v", "codes", "cent_id"
    )
    path = _index_path(sf_dir, suffix)
    idx.write.mode("overwrite").partitionBy("cent_id").parquet(path)
    cb.write.mode("overwrite").parquet(_sidecar(path, "codebook"))
    cents.write.mode("overwrite").parquet(_sidecar(path, "centroids"))
    return path


def _sidecar(path: str, kind: str) -> str:
    return path.replace(".parquet", f"_{kind}.parquet")


def refresh_ivfpq_index(
    spark: SparkSession, path: str, new_batch: DataFrame
) -> str:
    """Incrementally add a batch of newly-arrived embeddings to an
    ALREADY-BUILT index: route and PQ-encode the BATCH ONLY against the
    stored (frozen) centroids and codebook — 8 + 256 rows read back —
    and append files into exactly the ``cent_id=<k>`` partitions the
    batch touches.  Cost is O(batch), never O(corpus); no retraining,
    no existing file read or rewritten (the refresh_ann_index story
    with a model sidecar)."""
    cb = spark.read.schema(PQ_CODEBOOK_SCHEMA).parquet(
        _sidecar(path, "codebook")
    )
    cents = spark.read.schema("cent_id bigint, cv array<double>").parquet(
        _sidecar(path, "centroids")
    )
    vecs = new_batch.select(
        "vec_id", "label", dbl(F.col("embedding")).alias("v")
    )
    cells, _ = _route_cells(vecs, cents=cents)
    codes = packed_codes(subvector_frame(vecs), cb)
    idx = cells.join(codes, "vec_id").select(
        "vec_id", "label", "v", "codes", "cent_id"
    )
    idx.write.mode("append").partitionBy("cent_id").parquet(path)
    return path


def query_ivfpq_index(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """The read-only leg: IVFPQ+refine top-k over an already-built index.

    Probe routing collects nprobe cell ids from an 8-row centroid scan
    (one O(1) job — the query_ann_index static-pruning pattern), and the
    probe's ADC table collects as 256 micro-unit longs into a literal
    map (exact: each qd2 is a 6dp-rounded double, so qd2*1e6 sits within
    an ulp of an integer).  The index scan then partition-prunes to the
    probed cells and everything after it is row-local: ADC = the stored
    code array folded through the map (exact long sum, /1e6 at the end
    reproduces the DECIMAL(18,6)-sum-to-double discipline bit-for-bit),
    shortlist and final top-k are bounded heaps, and the exact refine
    reuses the stored vector column.  No joins, no exchanges
    (plan-pinned in tests/test_plans.py)."""
    probe = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == IVFPQ_PROBE_ID)
        .select("vec_id", dbl(F.col("embedding")).alias("v"))
    )
    cents = spark.read.schema("cent_id bigint, cv array<double>").parquet(
        _sidecar(path, "centroids")
    )
    routes = (
        probe.crossJoin(F.broadcast(cents))
        .select(
            "v",
            "cent_id",
            F.round(dist2(F.col("v"), F.col("cv")), 6).alias("d2"),
        )
        .orderBy(F.col("d2").asc(), F.col("cent_id").asc())
        .limit(IVFPQ_NPROBE)
        .collect()
    )
    probed = [r.cent_id for r in routes]
    qv = F.array(*[F.lit(float(x)) for x in routes[0].v])
    cb = spark.read.schema(PQ_CODEBOOK_SCHEMA).parquet(
        _sidecar(path, "codebook")
    )
    psubs = subvector_frame(probe.select("vec_id", "v"))
    adc_rows = adc_table(psubs, cb, IVFPQ_PROBE_ID).collect()
    kv: list = []
    for r in adc_rows:
        kv += [F.lit(r.m * PQ_K + r.c), F.lit(int(round(r.qd2 * 1_000_000)))]
    adc_map = F.create_map(*kv)
    entries = F.transform(
        F.col("codes"), lambda c, i: F.element_at(adc_map, i * PQ_K + c)
    )
    idx = spark.read.schema(IVFPQ_INDEX_SCHEMA).parquet(path)
    shortlist = (
        idx.filter(
            F.col("cent_id").isin(probed)
            & (F.col("vec_id") != IVFPQ_PROBE_ID)
        )
        .select(
            "vec_id",
            "label",
            "cent_id",
            "v",
            F.concat_ws(
                "-", F.transform("codes", lambda c: c.cast("string"))
            ).alias("pq_code"),
            F.round(
                F.aggregate(
                    entries, F.lit(0).cast("long"), lambda acc, x: acc + x
                )
                / F.lit(1_000_000.0),
                6,
            ).alias("adc_dist2"),
        )
        .orderBy(
            F.col("adc_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_SHORTLIST)
    )
    return (
        shortlist.select(
            "vec_id",
            "label",
            "cent_id",
            "pq_code",
            "adc_dist2",
            F.round(dist2(F.col("v"), qv), 6).alias("exact_dist2"),
        )
        .orderBy(
            F.col("exact_dist2").asc_nulls_last(),
            F.col("vec_id").asc_nulls_first(),
        )
        .limit(IVFPQ_TOPK)
    )


@register(
    "sim_ivfpq_indexed_query",
    oracle=_ivfpq_oracle(),
    doc="The stored-index form of sim_ivfpq_topk (FAISS train-once/store:"
    " Jégou et al. 2011 §V): codebooks, coarse centroids and the"
    " cell-partitioned PQ code table materialize ONCE (build_ivfpq_index);"
    " the query reads back ONLY the probed cells' cent_id=<k> partitions"
    " (static PartitionFilters — plan-pinned), scores them with a"
    " row-local map-lookup ADC fold over the stored code arrays, and"
    " exact-refines the shortlist from the stored vector column — no"
    " join, no exchange anywhere in the query plan.  Shares"
    " sim_ivfpq_topk's oracle: storing the index must not change a single"
    " result row.",
)
def sim_ivfpq_indexed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_ivfpq_index(spark, sf_dir)
    return query_ivfpq_index(spark, sf_dir, path)


@register(
    "sim_ivfpq_index_refresh",
    oracle=_ivfpq_oracle(),
    doc="Incremental IVF-PQ index refresh: build the cell-partitioned"
    " index from a base corpus (vec_id % 4 != 3), then add the remaining"
    " quarter as a newly-arrived batch via refresh_ivfpq_index — the"
    " batch routes and PQ-encodes against the STORED frozen centroids and"
    " codebook (8 + 256 rows read back, no retraining) and appends files"
    " into only the cent_id partitions it touches.  Training sees the"
    " full fixture (FAISS's train()/add() split: training data is a"
    " modeling choice, the add-path never retrains).  Shares"
    " sim_ivfpq_topk's oracle, so the gate IS the refresh==rebuild"
    " equivalence: an appended index must not change a single result row.",
)
def sim_ivfpq_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 3)
    batch = e.filter(F.col("vec_id") % 4 == 3)
    # overwrite-build the base index each run so the append is idempotent
    path = build_ivfpq_index(
        spark, sf_dir, source=base, train_source=e, suffix="_refresh"
    )
    refresh_ivfpq_index(spark, path, batch)
    return query_ivfpq_index(spark, sf_dir, path)
