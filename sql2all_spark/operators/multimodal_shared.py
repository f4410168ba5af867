"""Shared pHash constants and oracle SQL (non-registering).

``multimodal.py`` owns the pHash near-dup operator; ``mm_cluster.py``
builds connected components over its pair graph and needs the SAME
blocking-agnostic pair oracle at decoration time.  Like
``dedup_shared.py``, this module holds the shared pieces and registers
NOTHING.

The strings are byte-identical to their previous home in multimodal.py
(moved verbatim; no oracle output changes).
"""

from __future__ import annotations

from sql2all_spark.functions.hashing import base_hash_sql

PHASH_BITS = 60
PHASH_BANDS = 4
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS  # 15
PHASH_MAX_HAMMING = 3
_PHASH_SALT = "ph:"  # hash-domain separator vs dedup_simhash signatures


def phash_pairs_oracle() -> str:
    """Blocking-agnostic all-pairs pHash oracle (doc_a, doc_b, hamming).

    Replays the stub codec's md5 bit-vote arithmetic in SQL so even the
    Python signature path is value-checked; the banded Spark plan must
    reproduce these pairs exactly (pigeonhole recall proof)."""
    base = base_hash_sql(f"'{_PHASH_SALT}' || t")
    return f"""
WITH sigs AS (
  SELECT doc_id,
    list_reduce(
      list_transform(range(0, {PHASH_BITS}), j ->
        CASE WHEN list_reduce(
          list_transform(list_distinct(string_split(text, ' ')),
                         t -> (({base} >> ({PHASH_BITS - 1} - j)) & 1) * 2 - 1),
          (a, b) -> a + b) >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
      (acc, bit) -> acc * 2 + bit) AS phash
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""
