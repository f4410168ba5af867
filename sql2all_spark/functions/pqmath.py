"""Shared product-quantization math (non-registering).

``operators/pq.py`` (PQ+ADC with 1 or ``PQ_TRAIN_ROUNDS`` training
rounds) and ``operators/ivfpq.py`` (IVF-routed PQ) build on the same
subspace/codebook/ADC pieces.  Codebook training has exactly one
definition per engine: :func:`train_codebook` on Spark and
:func:`train_codebook_ctes` (over :func:`subvector_ctes`) as its DuckDB
twin.  This module registers NOTHING.

All helpers follow the cross-engine determinism discipline
(functions/embed.py): distances fold left-to-right over double-cast
elements, refined centroid means route through DECIMAL(28,12) sums and
round to 6dp, and every argmin carries a code-id tiebreak.  The Spark
expressions and the DuckDB SQL fragments are value-twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql2all_spark.functions.embed import DIM

PQ_M = 16  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace (4)
PQ_K = 16  # centroids per subspace codebook
PQ_SEED_IDS = list(range(1, PQ_K + 1))  # deterministic codebook seeds
PQ_CODEBOOK_SCHEMA = "m int, c int, cv array<double>"


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 over double arrays, left-to-right fold (cross-engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dist2_sql(a: str, b: str, n: int = PQ_SUB) -> str:
    """DuckDB twin of :func:`dist2` over the first ``n`` elements."""
    return (
        f"list_reduce(list_transform(range(1, {n} + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )


def subvector_frame(vecs: DataFrame) -> DataFrame:
    """(vec_id, m, sv): M slim subvector rows per vector.

    Input must carry ``vec_id`` and a double-array ``v`` column.  Callers
    persist the result when it feeds multiple stages (refinement assign,
    encode, and the probe's ADC row all read it).

    The input is re-spread first (§2.5): when it is the raw embeddings
    scan (one unsplittable fixture row group) the M-way explode and
    every downstream K×M distance evaluation ran single-task; on a
    multi-split scan or an already-shuffled frame this is a no-op.
    Downstream is deterministic per-row math + decimal-exact sums."""
    from sql2all_spark.spread import spread_fanout

    vecs = spread_fanout(vecs)
    return vecs.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice("v", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
            )
        ).alias("m", "sv"),
    )


def seed_codebook(subs: DataFrame) -> DataFrame:
    """cb0 (m, c, cv): codebooks seeded from the fixed PQ_SEED_IDS rows,
    code = rank of the seed vec_id within each subspace."""
    from pyspark.sql.window import Window

    return subs.filter(F.col("vec_id").isin(PQ_SEED_IDS)).select(
        "m",
        (
            F.row_number().over(Window.partitionBy("m").orderBy("vec_id")) - 1
        ).alias("c"),
        F.col("sv").alias("cv"),
    )


def assign_nearest(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """Argmin assignment of every subvector to its nearest codebook
    centroid: broadcast the (M*K-row) codebook, pick the (rounded-d2,
    code)-lexicographic minimum via a partial-aggregatable struct MIN
    (the dedup_keeper_select pattern).  Returns (vec_id, m, sv, c).

    Identical semantics to ranking by ROUND(d2,6) ASC, c ASC and keeping
    rk=1 (c is unique within a (vec_id, m) group, so the comparison
    never reaches the trailing sv field) — but the map-side combine
    collapses the K joined rows per subvector to ONE before the
    exchange, so the shuffle carries N*M rows instead of N*M*K and
    nothing is sorted (a row_number window here exchanged all K
    candidate rows and sorted each group; 16x the bytes at K=16)."""
    return (
        subs.join(F.broadcast(cb), "m")
        .withColumn("d2", dist2(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 6).alias("d"),
                    F.col("c").alias("c"),
                    F.col("sv").alias("sv"),
                )
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.sv").alias("sv"), F.col("b.c").alias("c"))
    )


def recompute_codebook(member: DataFrame) -> DataFrame:
    """k-means update step: per-dim member means (decimal-routed, 6dp),
    re-assembled into ordered centroid arrays (m, c, cv) — M*K slim rows,
    one partial-aggregated exchange.  Codes with no members drop out
    (standard empty-cluster handling; both engines agree)."""
    return (
        member.select("m", "c", F.posexplode("sv").alias("dim0", "val"))
        .groupBy("m", "c", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_val")
        )
        .groupBy("m", "c")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mean_val"))),
                lambda s: s.mean_val,
            ).alias("cv")
        )
    )


def train_codebook(subs: DataFrame, rounds: int) -> DataFrame:
    """(m, c, cv): the seed codebook refined by ``rounds`` k-means
    assign→recompute rounds (``rounds=0`` returns the seeds).

    Each round's 256-row codebook is collected and re-enters as a
    LITERAL frame: lineage never grows, every round's physical plan is
    identical (pinned by tests/test_plans.py), and every consumer of the
    result (encode and ADC broadcasts, the index sidecar write) reads
    the rows instead of re-running training.  A 256-row collect is an
    O(1) driver scalar (the bpe_train merge-argmax precedent); the
    collected doubles are the exact 6dp-rounded means, so the literal
    frame is value-identical to the lazy chain."""
    spark = subs.sparkSession
    cb = seed_codebook(subs)
    for _ in range(rounds):
        cb_rows = recompute_codebook(assign_nearest(subs, cb)).collect()
        cb = spark.createDataFrame(cb_rows, PQ_CODEBOOK_SCHEMA)
    return cb


def subvector_ctes(name: str, src: str, key: str = "vec_id") -> str:
    """DuckDB twin of :func:`subvector_frame`: the CTE ``name(key, m, sv)``
    slicing ``src``'s double array ``v`` into ``PQ_M`` subvectors."""
    return f"""{name} AS (
  SELECT {key}, m,
         list_slice(v, m * {PQ_SUB} + 1, (m + 1) * {PQ_SUB}) AS sv
  FROM {src}, (SELECT UNNEST(range(0, {PQ_M})) AS m)
)"""


def train_codebook_ctes(subs: str, rounds: int) -> str:
    """DuckDB twin of :func:`train_codebook` over the subvector CTE
    ``subs``: the seeded ``cb0(m, c, cv0)`` plus ``rounds`` unrolled
    ``a{k}`` (assign against ``cb{k-1}``) / ``cb{k}`` (per-dim
    DECIMAL(28,12) means rounded to 6dp) pairs, ending in
    ``cb{rounds}(m, c, cv{rounds})``.  The ``a{k}``/``cb{k}`` names stay
    clear of the IVF oracles' ``vecs``/``cents``/``assign``/``cells``."""
    seeds = ", ".join(str(i) for i in PQ_SEED_IDS)
    ctes = [f"""cb0 AS (
  SELECT s.m, ROW_NUMBER() OVER (PARTITION BY s.m ORDER BY s.vec_id) - 1 AS c,
         s.sv AS cv0
  FROM {subs} s WHERE s.vec_id IN ({seeds})
)"""]
    for k in range(1, rounds + 1):
        d2k = dist2_sql("s.sv", f"c.cv{k - 1}")
        ctes.append(f"""a{k} AS (
  SELECT s.vec_id, s.m, s.sv, c.c,
         ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY ROUND({d2k}, 6) ASC, c.c ASC) AS rk
  FROM {subs} s JOIN cb{k - 1} c ON s.m = c.m
),
cb{k} AS (
  SELECT m, c, list(mean_val ORDER BY dim) AS cv{k}
  FROM (
    SELECT m, c, dim,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_val
    FROM (
      SELECT m, c, UNNEST(range(1, {PQ_SUB} + 1)) AS dim, UNNEST(sv) AS val
      FROM a{k} WHERE rk = 1
    ) GROUP BY m, c, dim
  ) GROUP BY m, c
)""")
    return ",\n".join(ctes)


def encode(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, c): each vector's M nibble codes under ``cb``."""
    return assign_nearest(subs, cb).select("vec_id", "m", "c")


def packed_codes(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, codes[M]): PQ-encode and pack without shuffling the
    subvector payload.

    Value-identical to ``encode`` followed by the callers' pack step —
    per subspace the argmin is keyed on (ROUND(d2, 6), c) exactly as in
    :func:`assign_nearest` — but the encode exchange drops the trailing
    ``sv`` field from the struct MIN (``encode`` only reads the winning
    code; only training's :func:`recompute_codebook` needs the winner's
    subvector), so the first shuffle carries (vec_id, m, (d, c)) instead
    of dragging PQ_SUB doubles per row (guide §2.3 project before the
    exchange).

    A fully-fused single-exchange form (M conditional struct-MINs of one
    groupBy(vec_id)) was measured SLOWER (+19% on the refresh path at
    sf0.1): every joined candidate row pays M=16 aggregate-update
    evaluations instead of one, and that per-row CPU swamps the saved
    slim exchange.  Two cheap exchanges beat one expensive aggregate."""
    slim = (
        subs.join(F.broadcast(cb), "m")
        .withColumn("d2", dist2(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 6).alias("d"),
                    F.col("c").alias("c"),
                )
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.c").alias("c"))
    )
    return slim.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("m", "c"))),
            lambda s: s.c.cast("int"),
        ).alias("codes")
    )


def adc_table(subs: DataFrame, cb: DataFrame, probe_id: int) -> DataFrame:
    """(m, c, qd2): the probe's asymmetric-distance table — M*K rows,
    broadcast into the shortlist scoring join."""
    return (
        subs.filter(F.col("vec_id") == probe_id)
        .join(F.broadcast(cb), "m")
        .select(
            "m",
            "c",
            F.round(dist2(F.col("sv"), F.col("cv")), 6).alias("qd2"),
        )
    )


def adc_score(codes: DataFrame, adctab: DataFrame) -> DataFrame:
    """(vec_id, pq_code, adc_dist2): per-vector ADC total — codes joined
    to the broadcast ADC table, per-subspace 6dp entries summed as
    DECIMAL(18,6) so the total is order-independent; pq_code is the
    m-ordered dash-joined code string."""
    return (
        codes.join(F.broadcast(adctab), ["m", "c"])
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
    )
