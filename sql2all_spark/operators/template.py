"""Cross-document template mining: cluster duplicated n-gram hashes into
boilerplate FAMILIES via connected components — the report that
enumerates the "template farms" ``text_ngram_novelty`` can only flag.

Composition of two existing green primitives (VERDICT r13 #4):

1. ``dup_gram_hits`` (operators/text.py) — the inverted-index front end
   of ``text_dup_ngram_spans``: every (doc_id, pos, hash64) whose 5-gram
   also appears verbatim in at least one OTHER document.
2. ``star_components`` (operators/graph.py) — alternating large-star /
   small-star connected components, O(log d) rounds.

Graph construction: nodes are the duplicated GRAM HASHES themselves;
there is an edge between two hashes whenever they occur at CONSECUTIVE
positions of the same document (pos, pos+1 — i.e. inside one duplicated
island).  Because the same boilerplate text hashes identically in every
document that carries it, documents sharing a template automatically
share nodes — the component is the template: a maximal chain of
overlapping duplicated grams, stitched across all carrying documents.
A duplicated hash with no duplicated neighbor forms a singleton family.

Output, one row per family: ``family_id`` (min hash in the component —
the dedup_clusters labeling convention), ``n_grams`` (distinct gram
hashes = template length in gram units), ``n_docs`` (document
coverage), ``n_occurrences`` (total gram hits — the removable volume).

Scale shape: the only corpus-width work is ``dup_gram_hits``'s slim
(doc_id, pos, hash64) exchange (raw text never shuffles); the edge list
is built by a self-join of the hit table on (doc_id, pos+1) — a
co-partitioned equi-join on doc_id, never a cartesian — and carries
only distinct (hash, hash) pairs, which are VASTLY smaller than the
corpus (only boilerplate survives the cross-doc filter).  The star
contraction then runs on that bounded edge set in O(log d) rounds.
Plan-pinned in tests/test_plans.py: no cartesian/nested-loop join
anywhere, and the exchanges under the stats aggregation are hash-only.

Oracle: DuckDB recursive-CTE transitive closure over the same hash
graph (the dedup_clusters_star precedent) — exact same fixpoint,
declaratively.

Reference parity note: SQL2ALL has no text surface (its SQL passes
through verbatim — src/db/sqlite.rs:79); LLM-pipeline extension family
(SURVEY.md §2), sibling of text_dup_ngram_spans / text_ngram_novelty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql2all_spark.cache import materialize_tracked
from sql2all_spark.functions.hashing import base_hash_sql
from sql2all_spark.registry import register

# Gram width of the span detector in operators/text.py, re-declared here
# for the oracle; family_hits asserts the two agree.
DUP_SPAN_GRAM = 5


def family_ctes() -> str:
    """The shared family-graph CTE chain (corpus -> dup-gram ``hits`` ->
    component labels ``fam``), WITHOUT the leading WITH RECURSIVE —
    consumed by this module's oracle and by the keeper policy's
    (operators/template_keeper.py)."""
    gram_hash = base_hash_sql(
        f"array_to_string(w[pos:pos + {DUP_SPAN_GRAM - 1}], ' ')"
    )
    return f"""d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {DUP_SPAN_GRAM}
),
p AS (
  SELECT doc_id, w,
         UNNEST(range(1, len(w) - {DUP_SPAN_GRAM - 1} + 1)) AS pos
  FROM d
),
g AS (
  SELECT doc_id, CAST(pos AS INT) AS pos, {gram_hash} AS h
  FROM p
),
dup AS (
  SELECT h FROM g GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
),
hits AS MATERIALIZED (
  SELECT g.doc_id, g.pos, g.h FROM g JOIN dup USING (h)
),
e AS (
  SELECT DISTINCT a.h AS u, b.h AS v
  FROM hits a JOIN hits b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.h <> b.h
),
und AS (
  SELECT u, v FROM e
  UNION ALL
  SELECT v AS u, u AS v FROM e
),
nodes AS (SELECT DISTINCT h FROM hits),
reach(u, r) AS (
  SELECT h, h FROM nodes
  UNION
  SELECT und.u, reach.r FROM und JOIN reach ON und.v = reach.u
),
fam AS (SELECT u AS h, MIN(r) AS family_id FROM reach GROUP BY u)"""


def family_hits(spark: SparkSession, sf_dir: str):
    """Shared builder front end: (``hits``, ``fam``) — the persisted
    dup-gram hit table (doc_id, pos, h) and the per-hash family label
    (h, family_id) from the O(log d) star contraction.  Consumed by
    text_template_mining and the keeper policy."""
    from sql2all_spark.operators.graph import star_components
    from sql2all_spark.operators.text import DUP_SPAN_GRAM as _TEXT_GRAM
    from sql2all_spark.operators.text import dup_gram_hits

    # ADVICE r14: the oracle above is built from THIS module's
    # DUP_SPAN_GRAM while the builder's gram width comes from text.py via
    # dup_gram_hits — if either constant changed alone the engines would
    # silently diverge until a gate run failed.  Fail fast instead.
    assert DUP_SPAN_GRAM == _TEXT_GRAM, (
        f"template gram width {DUP_SPAN_GRAM} != text.DUP_SPAN_GRAM "
        f"{_TEXT_GRAM}: oracle and builder would diverge"
    )

    # Eagerly materialized: hits sits under every downstream broadcast
    # build (fam, keeper argmin, strip sets) — left lazy, the concurrent
    # broadcast-exchange threads each recompute the gram-hash scan
    # (cache.materialize_tracked docstring has the measurement).
    hits = dup_gram_hits(spark, sf_dir).transform(materialize_tracked)
    nxt = hits.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("h").alias("h2")
    )
    edges = (
        hits.join(nxt, ["doc_id", "pos"])
        .filter(F.col("h") != F.col("h2"))
        .select(F.col("h").alias("u"), F.col("h2").alias("v"))
        .distinct()
    )
    # The edge-build materialization (star_components' initial
    # checkpoint) runs under a shuffle width derived from the measured
    # hit count (r17, §2.2): hits is already materialized, so the count
    # is a cached-block scan; the edge set is strictly smaller than hits.
    # Above the local-loop gate, star_components' own inner scope then
    # re-derives the rounds' width from the edge count.  No-op at cluster
    # scale (capped at the session width).
    from sql2all_spark.looputil import loop_shuffle_partitions

    with loop_shuffle_partitions(hits):
        labels, _ = star_components(edges)
    fam = (
        hits.select("h")
        .distinct()
        .join(
            labels.select(
                F.col("doc_id").alias("h"), F.col("cluster_id").alias("family_id")
            ),
            "h",
            "left",
        )
        .select("h", F.coalesce("family_id", "h").alias("family_id"))
    )
    return hits, fam


def _template_oracle() -> str:
    return f"""
WITH RECURSIVE
{family_ctes()}
SELECT f.family_id,
       CAST(COUNT(DISTINCT hits.h) AS BIGINT) AS n_grams,
       CAST(COUNT(DISTINCT hits.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM hits JOIN fam f ON f.h = hits.h
GROUP BY f.family_id
ORDER BY n_occurrences DESC NULLS LAST, family_id ASC NULLS FIRST
"""


@register(
    "text_template_mining",
    oracle=_template_oracle(),
    doc="Cross-document template mining: connected components over the"
    " duplicated-5-gram hash graph (edges = hashes at consecutive"
    " positions of one document; shared boilerplate links documents"
    " through shared hash nodes) — one row per boilerplate FAMILY with"
    " its gram-length, document coverage, and total occurrence volume."
    "  The enumerating counterpart of text_ngram_novelty's flag, and"
    " the family report behind license/header/navigation stripping."
    "  Composition of dup_gram_hits (inverted-index, slim hash"
    " exchanges) and star_components (O(log d) contraction); the edge"
    " build is a doc_id-co-partitioned self-join on pos+1, never"
    " pair-space.  Oracle: recursive-CTE closure over the same graph.",
)
def text_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits, fam = family_hits(spark, sf_dir)
    return (
        hits.join(fam, "h")
        .groupBy("family_id")
        .agg(
            F.countDistinct("h").alias("n_grams"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(
            F.col("n_occurrences").desc_nulls_last(),
            F.col("family_id").asc_nulls_first(),
        )
    )
