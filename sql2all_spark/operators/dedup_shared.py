"""Shared near-dup-graph constants and oracle SQL (non-registering).

``dedup.py`` and ``graph.py`` both build on the blocked n-gram-Jaccard
pair oracle; ``curation.py``'s keeper selection and ``kfold.py`` need it
too.  This module holds the shared pieces and registers NOTHING, so any
module can import it at decoration time.

The strings are byte-identical to their previous homes in dedup.py /
graph.py (moved verbatim; no oracle output changes).
"""

from __future__ import annotations

from sql2all_spark.functions.hashing import base_hash_sql

NGRAM_BUCKET_WIDTH = 16  # docs in the same (lang, n_words//16) block compare
JACCARD_FLOOR = 0.05

# pair SQL shared by dedup_ngram_jaccard, graph's cluster oracles, and
# curation's keeper selection
NGRAM_PAIRS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
b AS (
  SELECT doc_id, lang, len(w) // {NGRAM_BUCKET_WIDTH} AS bucket,
         list_distinct(list_transform(
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]),
           g -> {base_hash_sql('g')})) AS hg
  FROM d
),
p AS (
  SELECT a.doc_id AS doc_a, a2.doc_id AS doc_b, a.lang,
         len(list_intersect(a.hg, a2.hg)) AS i,
         len(a.hg) AS na, len(a2.hg) AS nb
  FROM b a
  JOIN b a2 ON a.lang = a2.lang AND a.bucket = a2.bucket
           AND a.doc_id < a2.doc_id
)
SELECT doc_a, doc_b, lang,
       CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
FROM p
WHERE CAST(i AS DOUBLE) / (na + nb - i) >= {JACCARD_FLOOR}
"""

# Clustering uses a HIGH similarity floor: 0.05 (the pair-mining floor)
# links barely-overlapping docs into one giant dense component (~200k edges
# at sf0.1 — a hairball, not duplicate groups); 0.4 keeps only genuine
# near-duplicate edges, so components are the actual dup clusters and the
# clustering loop converges in a few cheap rounds.
CLUSTER_JACCARD_FLOOR = 0.4
