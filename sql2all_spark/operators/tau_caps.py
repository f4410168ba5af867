"""Per-domain tau composed with per-source caps (VERDICT r15 #4) — the
TWO-POLICY governance table a real curation pipeline actually runs.

``embed_domain_tau_apply`` keeps each domain's upper half by classifier
score; ``text_source_quality_caps`` keeps the top-N documents per
source.  Production pipelines run BOTH, and the bug surface is the
interaction order, so this operator makes it explicit: **tau binds
FIRST, the cap binds on the survivors**.  The other order is wrong in
a specific, demonstrable way: capping first admits exactly CAP_N docs
per source, and the tau cut then thins them BELOW the cap — the cap no
longer means "up to N per source survive", and low-quality docs from
under-represented sources crowd out high-quality capped ones.  With
tau-first, the per-source rank runs over tau-survivors only, so every
source contributes min(cap, its surviving docs), all above its
domain's quality bar — the RefinedWeb cap semantics applied to the
FineWeb-style per-domain threshold output.

Composition (all shared cores, zero re-implementation): the
scored/joined/ranked/tau chain is ``tau_apply.tau_chain_ctes`` with the
``source`` column threaded through (the Spark side reuses the same
clf_core/domain_core builders); the cap is ``classifier.CAP_N`` with
the caps leg's exact rank order (p_fx DESC, doc_id ASC).

Output — one row per observed (domain, source): the domain's tau, doc
counts, tau-survivor count, final keep count after the cap, how many
survivors the CAP (not tau) dropped, and the exact kept score mass.
``n_cap_dropped > 0`` rows are the interaction the table exists to
surface: quality-passing docs still dropped for source balance.

Determinism: tau is the discrete median (selected value, doc_id
tiebreak); the cap rank tiebreaks on doc_id; all outputs are exact
integers.

Scale shape: the profile's two row-local corpus scans (features,
embeddings) + ONE slim doc-id bridge exchange; then two window passes
over slim id/score rows — the per-domain median (the ccnet NTILE
oracle-exactness trade; production swaps in a broadcast quantile-
sketch threshold table) and the per-source cap rank, whose
``rn <= CAP_N`` filter compiles to WindowGroupLimit (bounded per-source
heap on both sides of the source shuffle, plan-pinned like the caps
leg).  No exchange carries text or embeddings.

Reference parity note: SQL2ALL has no ML/text surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sql2all_spark.cache import persist_tracked
from sql2all_spark.functions.clf_core import (
    CAP_N,
    _feats,
    _p_fx,
    _w_chain_sql,
    _z,
    trained_weights,
)
from sql2all_spark.functions.domain_core import (
    assign_ctes,
    assigned_domains,
    load_vecs,
)
from sql2all_spark.functions.tau_core import tau_chain_ctes
from sql2all_spark.registry import register


def _tau_caps_oracle() -> str:
    return (
        _w_chain_sql(with_acc=False)
        + f""",
{assign_ctes()},
{tau_chain_ctes(carry="source")},
rt AS (
  SELECT r.domain, r.source, r.doc_id, r.p_fx, t.tau
  FROM ranked r JOIN tau t ON t.domain = r.domain
),
capped AS (
  SELECT domain, source, p_fx,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY p_fx DESC, doc_id ASC) AS rn2
  FROM rt WHERE p_fx >= tau
),
base AS (
  SELECT domain, source,
         CAST(MAX(tau) AS BIGINT) AS tau,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(*) FILTER (WHERE p_fx >= tau) AS BIGINT) AS n_tau_kept
  FROM rt GROUP BY domain, source
),
fin AS (
  SELECT domain, source,
         CAST(COUNT(*) AS BIGINT) AS n_final_kept,
         CAST(SUM(p_fx) AS BIGINT) AS kept_score_mass
  FROM capped WHERE rn2 <= {CAP_N} GROUP BY domain, source
)
SELECT b.domain, b.source, b.tau, b.n_docs, b.n_tau_kept,
       CAST(COALESCE(f.n_final_kept, 0) AS BIGINT) AS n_final_kept,
       CAST(b.n_tau_kept - COALESCE(f.n_final_kept, 0) AS BIGINT)
         AS n_cap_dropped,
       CAST(COALESCE(f.kept_score_mass, 0) AS BIGINT) AS kept_score_mass
FROM base b
LEFT JOIN fin f ON f.domain = b.domain AND f.source = b.source
ORDER BY b.domain ASC NULLS FIRST, b.source ASC NULLS FIRST
"""
    )


@register(
    "embed_domain_tau_caps",
    oracle=_tau_caps_oracle(),
    doc="Per-domain tau x per-source cap — the two-policy interaction"
    " table: tau binds FIRST (each domain keeps its upper half by"
    " trained classifier score, discrete median, doc_id tiebreak), the"
    f" RefinedWeb-style cap binds on the SURVIVORS (top {CAP_N} per"
    " source by score DESC, doc_id ASC).  One governance row per"
    " (domain, source): tau used, doc count, tau-survivor count, final"
    " keeps after the cap, survivors the CAP dropped (the interaction"
    " rows), exact kept score mass.  Cap-first is wrong — tau would"
    " thin capped sources below the cap; tau-first keeps the cap's"
    " meaning (up to N per source, all above the domain's bar).",
)
def embed_domain_tau_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _feats(spark, sf_dir).transform(persist_tracked)
    w = trained_weights(feats, sf_dir)
    scored = feats.select("source", "doc_id", _p_fx(_z(w)).alias("p_fx"))
    dom = assigned_domains(load_vecs(spark, sf_dir)).select(
        F.col("vec_id").alias("doc_id"), "domain"
    )
    joined = scored.join(dom, "doc_id", "left").select(
        F.coalesce(F.col("domain").cast("string"), F.lit("unassigned")).alias(
            "domain"
        ),
        "source",
        "doc_id",
        "p_fx",
    )
    by_dom = Window.partitionBy("domain")
    # persisted: three consumers (tau, base, fin) read this slim
    # (domain, source, id, score, rank) frame — without the cache the
    # whole upstream (both corpus scans + the bridge + the domain
    # window) replays once per consumer
    ranked = joined.select(
        "domain",
        "source",
        "doc_id",
        "p_fx",
        F.row_number()
        .over(by_dom.orderBy(F.col("p_fx").asc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(by_dom).alias("n"),
    ).transform(persist_tracked)
    tau = ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "domain", F.col("p_fx").alias("tau")
    )
    # tau is bounded at k+1 rows (domains + 'unassigned') — the join
    # auto-broadcasts; survivors = tau binds FIRST
    rt = ranked.join(tau, "domain").select(
        "domain", "source", "doc_id", "p_fx", "tau"
    )
    base = rt.groupBy("domain", "source").agg(
        F.max("tau").alias("tau"),
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("p_fx") >= F.col("tau")).alias("n_tau_kept"),
    )
    # the cap binds on the survivors: rank-filter -> WindowGroupLimit
    # (bounded per-source heap), exactly the caps leg's order
    win_src = Window.partitionBy("source").orderBy(
        F.col("p_fx").desc(), F.col("doc_id").asc()
    )
    fin = (
        rt.filter(F.col("p_fx") >= F.col("tau"))
        .withColumn("rn2", F.row_number().over(win_src))
        .filter(F.col("rn2") <= CAP_N)
        .groupBy("domain", "source")
        .agg(
            F.count(F.lit(1)).alias("n_final_kept"),
            F.sum("p_fx").alias("kept_score_mass"),
        )
    )
    return (
        base.join(fin, ["domain", "source"], "left")
        .select(
            "domain",
            "source",
            "tau",
            "n_docs",
            "n_tau_kept",
            F.coalesce(F.col("n_final_kept"), F.lit(0))
            .cast("long")
            .alias("n_final_kept"),
            (
                F.col("n_tau_kept")
                - F.coalesce(F.col("n_final_kept"), F.lit(0))
            )
            .cast("long")
            .alias("n_cap_dropped"),
            F.coalesce(F.col("kept_score_mass"), F.lit(0))
            .cast("long")
            .alias("kept_score_mass"),
        )
        .orderBy(
            F.col("domain").asc_nulls_first(),
            F.col("source").asc_nulls_first(),
        )
    )
