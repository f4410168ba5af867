"""Semantic invariants the oracle differential cannot express.

The oracle gate proves Spark ≡ DuckDB — but both sides could share a bug.
These tests pin properties that follow from the ALGORITHM's published
guarantees, independently of either engine's output agreeing with the
other.
"""

from __future__ import annotations

import pytest

from sql2all_spark.registry import all_specs


def test_bloom_filter_has_zero_false_negatives(spark, sf_dir):
    """A Bloom filter may report false positives but NEVER false
    negatives: every true member must probe positive, so
    bloom_positive − false_positive == members exactly."""
    row = (
        all_specs()["agg_bloom_filter_probe"].builder(spark, sf_dir).collect()[0]
    )
    assert row["n_bloom_positive"] - row["n_false_positive"] == row["n_members"]
    assert 0 < row["n_members"] <= row["n_probed"]
    # the bitmap is actually in use (not degenerate all-zero / all-one)
    from sql2all_spark.operators.sketches import BF_M

    assert 0 < row["n_bits_set"] < BF_M


def test_winnow_fingerprint_coverage_guarantee(spark, sf_dir):
    """Winnowing's defining property (Schleimer et al. §4): every window
    of w consecutive k-grams contributes at least one selected
    fingerprint, so the gap between consecutive selected positions within
    a document is at most w.  A violation means a whole window went
    unfingerprinted and a t-token copy could be missed."""
    from sql2all_spark.operators.text import WINNOW_W

    fp = (
        all_specs()["text_winnow_fingerprint"]
        .builder(spark, sf_dir)
        .select("doc_id", "fp_pos")
        .toPandas()
    )
    assert len(fp), "fixture docs must produce fingerprints"
    bad = 0
    for _, g in fp.groupby("doc_id"):
        pos = sorted(g["fp_pos"])
        # first selection must come from the first window
        if pos[0] > WINNOW_W:
            bad += 1
        if any(b - a > WINNOW_W for a, b in zip(pos, pos[1:])):
            bad += 1
    assert bad == 0


def test_boilerplate_chunk_accounting_balances(spark, sf_dir, duck):
    """Per-doc chunk accounting must balance against the raw corpus:
    n_chunks == ceil(n_words/K), and tokens_kept + tokens_removed ==
    n_words exactly (the cleaned rewrite loses only boilerplate).  Also
    every flagged chunk's document frequency really is >= MIN_DF —
    re-derived here from the raw text, independent of the operator."""
    from sql2all_spark.operators.curation import CHUNK_K, MIN_DF

    rows = {
        r["doc_id"]: r
        for r in all_specs()["text_boilerplate_chunks"]
        .builder(spark, sf_dir)
        .collect()
    }
    raw = duck.execute(
        "SELECT doc_id, len(string_split(text, ' ')) FROM documents"
    ).fetchall()
    assert set(rows) == {d for d, _ in raw}
    total_boiler = 0
    for doc_id, n_words in raw:
        r = rows[doc_id]
        assert r["n_chunks"] == -(-n_words // CHUNK_K), doc_id
        removed = n_words - r["tokens_kept"]
        assert 0 <= r["n_boiler"] <= r["n_chunks"]
        # removed tokens all come from flagged chunks (each <= CHUNK_K)
        assert removed <= r["n_boiler"] * CHUNK_K
        assert (r["n_boiler"] == 0) == (removed == 0)
        total_boiler += r["n_boiler"]
    # the flag is grounded: counting doc frequency straight off the text
    # yields the same number of flagged chunk instances
    expected = duck.execute(f"""
        WITH ch AS (
          SELECT doc_id,
                 array_to_string(list_slice(words, i*{CHUNK_K}+1,
                                            i*{CHUNK_K}+{CHUNK_K}), ' ')
                   AS chunk
          FROM (SELECT doc_id, words,
                       UNNEST(range(0, (len(words)+{CHUNK_K - 1})
                                        //{CHUNK_K})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS words
                      FROM documents))
        ),
        df AS (SELECT chunk FROM (SELECT chunk, COUNT(DISTINCT doc_id) nd
                                  FROM ch GROUP BY chunk) WHERE nd >= {MIN_DF})
        SELECT COUNT(*) FROM ch WHERE chunk IN (SELECT chunk FROM df)
    """).fetchone()[0]
    assert total_boiler == expected


def test_epoch_plan_allocation_is_proportional_and_bounded(spark, sf_dir):
    """The planner's published contract: allocations never exceed the
    budget, the rounding loss is < n_sources tokens, and each source's
    allocation is within 1 of exact proportionality floor(B*w/S) — i.e.
    the integer decomposition introduced no drift."""
    rows = all_specs()["sample_epoch_plan"].builder(spark, sf_dir).collect()
    budget = sum(r["n_tokens"] for r in rows)
    ssum = sum(r["weight"] for r in rows)
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_alloc <= budget
    assert budget - total_alloc < len(rows)  # floor loss only
    for r in rows:
        assert r["alloc_tokens"] == budget * r["weight"] // ssum
        assert r["epochs_p1000"] == r["alloc_tokens"] * 1000 // r["n_tokens"]


def test_source_overlap_counts_bounded_by_chunk_inventories(spark, sf_dir, duck):
    """n_shared_chunks(a,b) can never exceed either source's distinct
    chunk inventory, and the pair list must be strictly upper-triangular
    (a < b, no self-pairs, no duplicates)."""
    from sql2all_spark.operators.curation import CHUNK_K

    rows = all_specs()["dedup_source_overlap"].builder(spark, sf_dir).collect()
    seen = set()
    inv = dict(
        duck.execute(f"""
        SELECT source, COUNT(DISTINCT array_to_string(
                 list_slice(words, i*{CHUNK_K}+1, i*{CHUNK_K}+{CHUNK_K}), ' '))
        FROM (SELECT source, words,
                     UNNEST(range(0, (len(words)+{CHUNK_K - 1})//{CHUNK_K}))
                       AS i
              FROM (SELECT source, string_split(text, ' ') AS words
                    FROM documents))
        GROUP BY source
    """).fetchall()
    )
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert 0 < r["n_shared_chunks"] <= min(
            inv[r["source_a"]], inv[r["source_b"]]
        )


def test_vocab_coverage_is_monotone_and_exhaustive(spark, sf_dir, duck):
    """Coverage must be strictly increasing in vocab size, hit exactly
    the corpus total when the budget covers the whole vocabulary, and
    each row's covered_tokens must equal the true sum of the top-V word
    counts recomputed straight off the text."""
    rows = sorted(
        all_specs()["text_vocab_coverage"].builder(spark, sf_dir).collect(),
        key=lambda r: r["vocab_size"],
    )
    counts = [
        c
        for (c,) in duck.execute(
            "SELECT COUNT(*) c FROM (SELECT UNNEST(string_split(text, ' '))"
            " w FROM documents) GROUP BY w ORDER BY c DESC"
        ).fetchall()
    ]
    total = sum(counts)
    prev = 0
    for r in rows:
        assert r["covered_tokens"] == sum(counts[: r["vocab_size"]])
        assert r["covered_tokens"] > prev
        prev = r["covered_tokens"]
        assert r["coverage_p1000"] == r["covered_tokens"] * 1000 // total
    if rows and rows[-1]["vocab_size"] >= len(counts):
        assert rows[-1]["covered_tokens"] == total


def test_bpe_encode_compression_bounds(spark, sf_dir):
    """Every merged token consumes exactly two original symbols and merged
    tokens never re-merge (merge rules are single-char pairs), so
    ceil(n_sym/2) <= n_tok <= n_sym for every document; and encoding
    never changes the word count."""
    rows = all_specs()["text_bpe_encode"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_tok"] <= r["n_sym"]
        assert r["n_tok"] * 2 >= r["n_sym"]
        assert 0 < r["n_words"] <= r["n_sym"]


def test_sessionize_partitions_events_and_respects_gap(spark, sf_dir):
    """Sessions partition each user's events exactly (no event lost or
    double-counted), bounds are sane, and consecutive sessions of one
    user are separated by MORE than the inactivity gap."""
    from sql2all_spark.operators.timeseries import SESSION_GAP_US
    from sql2all_spark.tables import load_table

    rows = all_specs()["ts_sessionize"].builder(spark, sf_dir).collect()
    total_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == total_events
    by_user: dict = {}
    for r in rows:
        assert r["start_us"] <= r["end_us"]
        assert r["duration_sec"] == (r["end_us"] - r["start_us"]) // 1_000_000
        by_user.setdefault(r["user_id"], []).append(r)
    for sess in by_user.values():
        sess.sort(key=lambda r: r["session_idx"])
        assert [s["session_idx"] for s in sess] == list(
            range(1, len(sess) + 1)
        )
        for a, b in zip(sess, sess[1:]):
            assert b["start_us"] - a["end_us"] > SESSION_GAP_US


def test_semantic_dedup_drop_policy(spark, sf_dir):
    """Every dropped vector's keeper has a LOWER id (keep-lowest-id), the
    evidence cosine clears the threshold, and a vector never appears as
    its own keeper."""
    from sql2all_spark.operators.semdedup import SEM_TAU

    rows = all_specs()["dedup_semantic"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["keeper"] < r["vec_id"]
        assert r["max_cosine"] >= SEM_TAU


def test_containment_is_bounded_and_asymmetric(spark, sf_dir):
    """Containment lives in [floor, 1]; the shared count never exceeds
    the contained side's inventory; and the relation is genuinely
    asymmetric (ordered pairs)."""
    from sql2all_spark.operators.dedup import CONT_FLOOR

    rows = all_specs()["dedup_containment"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["doc_a"] != r["doc_b"]
        assert 0 < r["shared"] <= r["na"]
        assert CONT_FLOOR <= r["containment"] <= 1.0


def test_phash_band_recall_pigeonhole(spark, sf_dir):
    """Pigeonhole guarantee of the banded plan: 4 bands of 15 bits mean
    any pair within Hamming 3 MUST agree on at least one band — verified
    here directly on the signatures (recall proof independent of the
    oracle's all-pairs formulation)."""
    from sql2all_spark.operators.multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_MAX_HAMMING,
    )

    rows = all_specs()["mm_phash_neardup"].builder(spark, sf_dir).collect()
    assert rows
    assert PHASH_MAX_HAMMING < PHASH_BANDS  # the pigeonhole precondition
    for r in rows:
        assert 0 <= r["hamming"] <= PHASH_MAX_HAMMING


def test_phash_cluster_labels_consistent_with_edges(spark, sf_dir):
    """mm_phash_clusters is the transitive closure of mm_phash_neardup:
    every edge's endpoints share a cluster label, every cluster id is the
    min doc_id of its members (so exactly one keeper per cluster), and
    cluster_size counts members exactly — checked directly against the
    pair operator, independent of the oracle's recursive-CTE form."""
    labels = {
        r["doc_id"]: r
        for r in all_specs()["mm_phash_clusters"].builder(spark, sf_dir).collect()
    }
    pairs = all_specs()["mm_phash_neardup"].builder(spark, sf_dir).collect()
    assert pairs
    for p in pairs:
        assert labels[p["doc_a"]]["cluster_id"] == labels[p["doc_b"]]["cluster_id"]
    by_cluster: dict = {}
    for r in labels.values():
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        keepers = [m for m in members if m["is_keeper"] == 1]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == cid
        assert all(m["cluster_size"] == len(members) for m in members)


def test_pq_codes_valid_rerank_sorted_and_recall(spark, sf_dir):
    """PQ semantic invariants, independent of the oracle: every result
    carries exactly M codes each in [0, K); results are sorted by the
    exact re-rank distance; exact_dist2 matches a numpy brute-force
    recomputation; and — the reason the operator exists — the
    shortlist+rerank pipeline actually FINDS the true neighbors:
    recall@10 vs global numpy brute force is >= 8/10 on the fixture
    (measured 10/10 at sf0.001; ADC-only ranking scores 0-4/10 on these
    unstructured vectors, which is why the rerank stage is load-bearing)."""
    import numpy as np
    import duckdb as ddb

    from sql2all_spark.operators.pq import PQ_K, PQ_M, PQ_PROBE_ID

    rows = all_specs()["sim_pq_adc_topk"].builder(spark, sf_dir).collect()
    assert rows
    emb = ddb.sql(
        f"select vec_id, embedding from '{sf_dir}/embeddings.parquet'"
        " order by vec_id"
    ).fetchnumpy()
    V = np.stack([np.asarray(v, dtype=float) for v in emb["embedding"]])
    ids = np.asarray(emb["vec_id"])
    q = V[ids == PQ_PROBE_ID][0]
    d2 = ((V - q) ** 2).sum(axis=1)
    exact10 = set(
        ids[np.argsort(d2 + (ids == PQ_PROBE_ID) * 1e18, kind="stable")[:10]]
        .tolist()
    )
    truth = {int(i): float(x) for i, x in zip(ids, d2)}
    prev = None
    for r in rows:
        codes = r["pq_code"].split("-")
        assert len(codes) == PQ_M
        assert all(0 <= int(c) < PQ_K for c in codes)
        assert r["adc_dist2"] >= 0
        assert abs(r["exact_dist2"] - truth[r["vec_id"]]) < 1e-4
        if prev is not None:
            assert (r["exact_dist2"], r["vec_id"]) > prev
        prev = (r["exact_dist2"], r["vec_id"])
    assert len({r["vec_id"] for r in rows} & exact10) >= 8


def test_multiprobe_dominates_single_bucket_rank_for_rank(spark, sf_dir):
    """The multi-probe recall guarantee, checked directly: probe 0's
    candidate set is a superset of the single-bucket operator's (its own
    bucket is always probed), so at every rank the multi-probe cosine is
    >= the single-bucket cosine.  Also pins batch completeness (every
    probe id present) and contiguous ranks."""
    from sql2all_spark.operators.ann_multiprobe import MP_PROBE_IDS, MP_TOPK

    rows = all_specs()["sim_ann_multiprobe"].builder(spark, sf_dir).collect()
    by_probe: dict = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert set(by_probe) == set(MP_PROBE_IDS)
    for pid, rs in by_probe.items():
        ranks = sorted(r["rk"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= MP_TOPK
    single = sorted(
        (
            r["cosine"]
            for r in all_specs()["sim_lsh_ann"].builder(spark, sf_dir).collect()
        ),
        reverse=True,
    )[:MP_TOPK]
    multi = [
        r["cosine"] for r in sorted(by_probe[0], key=lambda r: r["rk"])
    ]
    for i, s in enumerate(single[: len(multi)]):
        assert multi[i] >= s


def test_retention_cohort_day_zero_is_complete(spark, sf_dir):
    """Every user is active on their cohort day by construction, so the
    offset-0 cell of every cohort has n_active == cohort_size and
    retention exactly 1000; later offsets never exceed it; offsets are
    non-negative."""
    rows = all_specs()["ts_retention_cohorts"].builder(spark, sf_dir).collect()
    assert rows
    zero = {r["cohort_day"]: r for r in rows if r["day_offset"] == 0}
    cohorts = {r["cohort_day"] for r in rows}
    assert set(zero) == cohorts  # offset 0 present for every cohort
    for r in rows:
        assert r["day_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
        assert r["retention_p1000"] == r["n_active"] * 1000 // r["cohort_size"]
    for r in zero.values():
        assert r["n_active"] == r["cohort_size"] and r["retention_p1000"] == 1000


def test_range_search_is_recall_complete_vs_bruteforce(spark, sf_dir):
    """Radius search must return EXACTLY the vectors within θ — verified
    against an independent numpy brute-force over the raw parquet."""
    import numpy as np
    import pyarrow.parquet as pq

    from sql2all_spark.operators.range_search import (
        RANGE_N_PROBES,
        RANGE_THETA,
    )

    rows = all_specs()["sim_range_search"].builder(spark, sf_dir).collect()
    got = {(r["query_id"], r["vec_id"]) for r in rows}

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
    ids = t["vec_id"].to_numpy()
    probes, corpus = ids < RANGE_N_PROBES, ids >= RANGE_N_PROBES
    qm, cm = vecs[probes], vecs[corpus]
    sims = (cm @ qm.T) / (
        np.linalg.norm(cm, axis=1)[:, None] * np.linalg.norm(qm, axis=1)[None, :]
    )
    want = {
        (int(ids[probes][j]), int(ids[corpus][i]))
        for i, j in zip(*np.where(np.round(sims, 6) >= RANGE_THETA))
    }
    assert got == want


def test_floor_div_sql_matches_duckdb_floor_semantics(spark, duck):
    """ADVICE r9 claimed Spark ``div`` truncates while DuckDB ``//``
    floors.  Measured reality: BOTH truncate toward zero on integers, so
    the engines agreed but bucketed pre-1970 epochs semantically wrong
    (1 µs before the epoch → day 0).  Pin (a) the raw-operator parity
    that makes the old code safe-but-wrong, and (b) that BOTH floor
    helpers now produce Python floor division for negative dividends and
    exact bucket boundaries."""
    from sql2all_spark.functions.exact import floor_div_duck_sql, floor_div_sql

    vals = [-86400000001, -86400000000, -1, 0, 1, 86399999999, 86400000000]
    d = 86400000000  # DAY_US
    got = {
        r["v"]: (r["fd"], r["raw"])
        for r in spark.createDataFrame([(v,) for v in vals], "v long")
        .selectExpr("v", f"{floor_div_sql('v', d)} AS fd", f"v div {d} AS raw")
        .collect()
    }
    for v in vals:
        duck_fd, duck_raw = duck.execute(
            f"SELECT {floor_div_duck_sql(f'CAST({v} AS BIGINT)', d)},"
            f"       CAST({v} AS BIGINT) // {d}"
        ).fetchone()
        trunc = int(v / d) if v >= 0 or v % d == 0 else -((-v) // d)
        assert got[v][1] == duck_raw == trunc, (v, got[v][1], duck_raw)
        assert got[v][0] == duck_fd == v // d, (v, got[v][0], duck_fd)


def test_retention_day_bucketing_floors_pre_1970(spark):
    """End-to-end guard on the retention day math: a synthetic pre-1970
    event lands in the FLOOR day bucket (day -1 for one microsecond
    before the epoch), not the truncated day 0."""
    from sql2all_spark.functions.exact import floor_div_sql
    from sql2all_spark.operators.retention import DAY_US

    df = spark.createDataFrame(
        [(-1,), (0,), (-DAY_US,), (DAY_US,)], "us long"
    ).selectExpr("us", f"{floor_div_sql('us', DAY_US)} AS day")
    got = {r["us"]: r["day"] for r in df.collect()}
    assert got == {-1: -1, 0: 0, -DAY_US: -1, DAY_US: 1}


def test_exact_substring_spans_are_verbatim_and_maximal(spark, sf_dir):
    """Every reported pair-span must (a) match VERBATIM between the two
    documents at the reported positions, and (b) be maximal MODULO the
    stop-gram cap — a textually-possible one-token extension is allowed
    only when the seed gram that would have chained it was dropped from
    the inverted index by the df > SUB_DF_CAP cap (ADVICE r10: both
    engines apply the cap, so unconditional maximality is not the
    operator's contract; cap-blocked extensibility is)."""
    import collections

    import pyarrow.parquet as pq

    from sql2all_spark.operators.substring_dedup import SUB_DF_CAP, SUB_GRAM

    rows = (
        all_specs()["text_exact_substring_dedup"].builder(spark, sf_dir).collect()
    )
    assert rows, "fixture should contain duplicated passages"
    t = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    toks = {r.doc_id: r.text.split(" ") for r in t.itertuples()}
    k = SUB_GRAM
    df = collections.Counter()
    for w in toks.values():
        for i in range(len(w) - k + 1):
            df[" ".join(w[i : i + k])] += 1

    def capped(w, i0):
        """Gram starting at 0-based token index i0 was cap-dropped."""
        return df[" ".join(w[i0 : i0 + k])] > SUB_DF_CAP

    for r in rows:
        a, b = toks[r["doc_a"]], toks[r["doc_b"]]
        ia, ib, n = r["a_start"] - 1, r["b_start"] - 1, r["span_len"]
        assert a[ia : ia + n] == b[ib : ib + n], (r, "span mismatch")
        if ia > 0 and ib > 0 and a[ia - 1] == b[ib - 1]:
            # the extension's seed gram (tokens ia-1 .. ia-1+k-1) matches
            # between the docs, so it can only be missing because the cap
            # dropped it from the index
            assert capped(a, ia - 1), (r, "left-extensible, gram not capped")
        if ia + n < len(a) and ib + n < len(b) and a[ia + n] == b[ib + n]:
            assert capped(a, ia + n - k + 1), (
                r,
                "right-extensible, gram not capped",
            )


def test_bpe_train_rules_consistent_with_encoder_fold(spark, sf_dir):
    """Folding the TRAINED merge table through the encoder's pass
    machinery (tokenize._bpe_pass_col) must reproduce the training
    loop's final vocabulary state exactly — train and encode share one
    merge semantics (VERDICT r9 #4's consistency requirement).  Counts
    are deliberately NOT asserted monotone: in true BPE a merge can
    create a pair more frequent than remaining original pairs, so only
    positivity, contiguous rank order, and the a<>b parallel-pass
    restriction are invariant."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.bpe_train import (
        _initial_vocab,
        train_bpe,
    )
    from sql2all_spark.operators.tokenize import _bpe_pass_col

    rules, final_vocab = train_bpe(spark, sf_dir)
    assert [r[0] for r in rules] == list(range(1, len(rules) + 1))
    assert all(r[4] > 0 for r in rules)
    assert all(r[1] != r[2] for r in rules)  # parallel-pass restriction

    merges = F.array(
        *[
            F.struct(
                F.lit(rank).alias("rank"),
                F.lit(a).alias("sym_a"),
                F.lit(b).alias("sym_b"),
            )
            for rank, a, b, _, _ in rules
        ]
    )
    folded = _initial_vocab(spark, sf_dir).select(
        "c", F.aggregate(merges, F.col("syms"), _bpe_pass_col).alias("syms")
    )
    a = sorted(map(tuple, folded.select("c", "syms").collect()))
    b = sorted(map(tuple, final_vocab.select("c", "syms").collect()))
    assert [(c, tuple(s)) for c, s in a] == [(c, tuple(s)) for c, s in b]


def test_importance_resample_weights_and_rescale_invariance(spark, sf_dir):
    """(a) every weight is a positive integer within the documented
    factor bounds; (b) the 1e6 key rescale is order-invariant: ranking
    by raw ln(u)/w (no rescale, no rounding) reproduces the selected
    doc set and order — so the rescale changed resolution, not the
    sample; (c) ranks are contiguous from 1."""
    import math

    from sql2all_spark.operators.dsir import DSIR_K, _SEED, _TWO60
    from sql2all_spark.functions.hashing import base_hash
    from pyspark.sql import functions as F

    rows = (
        all_specs()["text_importance_resample"].builder(spark, sf_dir).collect()
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == DSIR_K
    for r in rows:
        assert 1 <= r["weight"] <= 10 * 1000 * 1000 * 1000 * 2
        assert r["key"] <= 0

    # independent replay WITHOUT the rescale or rounding: recompute each
    # selected doc's raw A-ES key ln(u)/w in pure Python (md5 uniforms,
    # libm ln) and assert the reported rank order is exactly raw-key
    # descending — the rescale is a monotone map, so order must survive
    import hashlib

    def raw_key(doc_id: int, weight: int) -> float:
        h = hashlib.md5(f"{_SEED}{doc_id}".encode()).hexdigest()[:15]
        u = (int(h, 16) + 1) / _TWO60
        return math.log(u) / weight

    raws = [raw_key(r["doc_id"], r["weight"]) for r in rows]
    # reported order (rank asc) must equal raw-key descending order
    assert raws == sorted(raws, reverse=True)


def test_ivfpq_refine_matches_exact_within_probed_cells(spark, sf_dir):
    """IVF-PQ invariants (Jégou et al. 2011 §V): (a) every returned
    candidate lives in a PROBED cell — the index never surfaces a vector
    it could not have scanned; (b) the exact-refine leg recovers the
    in-cell exact top-k up to ADC shortlist misses — overlap with the
    brute-forced exact ranking RESTRICTED to probed cells is >= 8/10
    (measured 9/10 at sf0.001: one true neighbor ranks below the R=64
    ADC shortlist, the documented IVFPQ recall/R trade)."""
    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.functions.pqmath import dist2
    from sql2all_spark.operators.ivfpq import (
        IVFPQ_PROBE_ID,
        IVFPQ_TOPK,
        _route_cells,
    )
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", dbl(F.col("embedding")).alias("v"))
    cells, probes = _route_cells(vecs)
    probe_cells = {r.cent_id for r in probes.collect()}
    qv = vecs.filter(F.col("vec_id") == IVFPQ_PROBE_ID).select(
        F.col("v").alias("pv")
    )
    incell = (
        cells.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") != IVFPQ_PROBE_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id", F.round(dist2(F.col("v"), F.col("pv")), 6).alias("d2")
        )
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(IVFPQ_TOPK)
    )
    incell_ids = {r.vec_id for r in incell.collect()}
    rows = all_specs()["sim_ivfpq_topk"].builder(spark, sf_dir).collect()
    assert len(rows) == IVFPQ_TOPK
    assert all(r.cent_id in probe_cells for r in rows)
    assert len(incell_ids & {r.vec_id for r in rows}) >= 8
    # exact_dist2 is the presentation order (refine leg actually ranked)
    exact = [r.exact_dist2 for r in rows]
    assert exact == sorted(exact)


def test_ivf_batch_multiprobe_candidates_superset(spark, sf_dir):
    """Routing to nprobe=2 cells must gather a SUPERSET of nprobe=1's
    candidates for every probe (the ann_multiprobe superset pattern
    applied to IVF): more probes can only widen the scanned set, so
    recall is monotone in nprobe."""
    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.operators.ivfpq import _route_cells, batch_routes
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", dbl(F.col("embedding")).alias("v"))
    cells, _ = _route_cells(vecs)

    def cand_sets(nprobe):
        got = (
            cells.join(F.broadcast(batch_routes(vecs, nprobe)), "cent_id")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .select("probe_id", "vec_id")
            .collect()
        )
        out = {}
        for r in got:
            out.setdefault(r.probe_id, set()).add(r.vec_id)
        return out

    one, two = cand_sets(1), cand_sets(2)
    assert set(one) == set(two)  # same probe batch
    for pid in one:
        assert one[pid] <= two[pid], f"probe {pid} lost candidates"
    # Strict gain is a property of the BATCH, not of every probe: a
    # probe whose second-nearest cell happens to be empty gains nothing
    # at nprobe=2 even though the superset contract holds (ADVICE r11).
    assert any(len(two[pid]) > len(one[pid]) for pid in one), (
        "nprobe=2 gained no candidates for any probe"
    )


def test_pq_train_loop_quantization_error_monotone(spark, sf_dir):
    """k-means monotonicity: each assign→recompute round is non-increasing
    in total quantization error (assignment picks the argmin; the mean
    minimizes within-cluster squared distance).  6dp centroid rounding
    bounds the wobble — epsilon 1e-3 over a hundreds-scale total."""
    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.functions.pqmath import (
        dist2,
        subvector_frame,
        train_codebook,
    )
    from sql2all_spark.operators.pq import PQ_TRAIN_ROUNDS
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", dbl(F.col("embedding")).alias("v"))
    subs = subvector_frame(vecs).persist()
    costs = []
    for k in range(PQ_TRAIN_ROUNDS + 1):
        cb = train_codebook(subs, k)
        cost = (
            subs.join(F.broadcast(cb), "m")
            .withColumn("d2", dist2(F.col("sv"), F.col("cv")))
            .groupBy("vec_id", "m")
            .agg(F.min("d2").alias("md2"))
            .agg(F.sum("md2").alias("cost"))
            .collect()[0]
            .cost
        )
        costs.append(cost)
    subs.unpersist()
    for a, b in zip(costs, costs[1:]):
        assert b <= a + 1e-3, f"quantization error increased: {costs}"
    assert costs[-1] < costs[0]  # training actually moved


def test_group_kfold_no_neardup_pair_straddles_folds(spark, sf_dir):
    """The leakage-safety contract: every near-dup pair above the cluster
    floor has both documents in the SAME fold (fold is a pure function of
    the shared cluster id), folds are in [0, K), and the whole corpus is
    assigned exactly once."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from sql2all_spark.operators.dedup_shared import CLUSTER_JACCARD_FLOOR
    from sql2all_spark.operators.kfold import K_FOLDS

    rows = all_specs()["sample_group_kfold"].builder(spark, sf_dir).collect()
    fold = {r.doc_id: r.fold for r in rows}
    cluster = {r.doc_id: r.cluster_id for r in rows}
    n_docs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    assert len(rows) == len(fold) == n_docs  # total, no dup assignment
    assert all(0 <= r.fold < K_FOLDS for r in rows)
    assert len({r.fold for r in rows}) == K_FOLDS  # all folds populated
    pairs = (
        all_specs()["dedup_ngram_jaccard"].builder(spark, sf_dir)
        .filter(F.col("jaccard") >= CLUSTER_JACCARD_FLOOR)
        .select("doc_a", "doc_b")
        .collect()
    )
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert fold[p.doc_a] == fold[p.doc_b], (p, "pair straddles folds")
        assert cluster[p.doc_a] == cluster[p.doc_b]


def test_hybrid_rrf_scores_recompute_from_ranks(spark, sf_dir):
    """RRF's contract: the fused score is EXACTLY sum over legs of
    1/(K+rank) (6dp per leg), zero for a missing leg; every fused doc
    was ranked by at least one leg; output is fused-score-descending."""
    from decimal import ROUND_HALF_UP, Decimal

    from sql2all_spark.operators.fusion import RRF_K

    rows = all_specs()["sim_hybrid_rrf"].builder(spark, sf_dir).collect()
    assert rows

    def leg(rank):
        if rank is None:
            return Decimal(0)
        return (Decimal(1) / (RRF_K + rank)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )

    for r in rows:
        assert r.rank_dense is not None or r.rank_sparse is not None
        expect = float(leg(r.rank_dense) + leg(r.rank_sparse))
        assert abs(r.rrf_score - expect) < 1e-9, (r, expect)
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_mmr_picks_distinct_monotone_and_first_is_top1(spark, sf_dir):
    """MMR invariants (Carbonell & Goldstein 1998): pick 1 is the pure
    relevance argmax; picked scores are non-increasing (each candidate's
    penalty max-sim only grows as the selected set grows); picks are
    distinct members of the dense shortlist."""
    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import cosine, dbl
    from sql2all_spark.operators.fusion import FUSE_PROBE_ID, LEG_TOP
    from sql2all_spark.tables import load_table

    rows = sorted(
        all_specs()["sim_mmr_diversify"].builder(spark, sf_dir).collect(),
        key=lambda r: r.pick,
    )
    assert [r.pick for r in rows] == list(range(1, len(rows) + 1))
    ids = [r.doc_id for r in rows]
    assert len(set(ids)) == len(ids)
    scores = [r.mmr_score_tm for r in rows]
    assert all(b <= a for a, b in zip(scores, scores[1:])), scores
    # shortlist + top-1 recomputed independently
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == FUSE_PROBE_ID).select(
        dbl(F.col("embedding")).alias("qv")
    )
    cand = (
        e.filter(F.col("vec_id") != FUSE_PROBE_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(dbl(F.col("embedding")), F.col("qv")), 6).alias(
                "rel"
            ),
        )
        .orderBy(F.col("rel").desc_nulls_last(), F.col("doc_id").asc())
        .limit(LEG_TOP)
        .collect()
    )
    shortlist = {r.doc_id for r in cand}
    assert set(ids) <= shortlist
    assert ids[0] == cand[0].doc_id  # pick 1 = relevance argmax


def test_bitext_margin_pairs_share_band_and_accept_matches_floor(
    spark, sf_dir
):
    """Bitext mining invariants: every mined pair really shares one of
    the two 3-bit hyperplane bands (recomputed from raw embeddings —
    the candidate generator never smuggles in an unbanded pair); sides
    are the configured labels; one row per source vector with >= 1
    candidate; accepted <=> margin >= MARGIN_FLOOR."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl, sign_bucket
    from sql2all_spark.operators.bitext import (
        MARGIN_FLOOR,
        SRC_LABEL,
        TGT_LABEL,
    )
    from sql2all_spark.tables import load_table

    rows = all_specs()["sim_bitext_margin_mine"].builder(spark, sf_dir).collect()
    assert rows
    e = load_table(spark, sf_dir, "embeddings")
    sig = {
        r.vec_id: (r.label, r.sig[:3], r.sig[3:6])
        for r in e.select(
            "vec_id", "label", sign_bucket(dbl(F.col("embedding"))).alias("sig")
        ).collect()
    }
    src_seen = set()
    for r in rows:
        sl, sb1, sb2 = sig[r.src_id]
        tl, tb1, tb2 = sig[r.tgt_id]
        assert (sl, tl) == (SRC_LABEL, TGT_LABEL)
        assert sb1 == tb1 or sb2 == tb2, (r, "pair shares no band")
        assert r.src_id not in src_seen  # forward selection: one per src
        src_seen.add(r.src_id)
        assert (r.accepted == 1) == (r.margin >= MARGIN_FLOOR), r


def test_residual_ivfpq_refine_order_and_probed_cells_only(spark, sf_dir):
    """Residual IVF-PQ shares the non-residual contract: every returned
    candidate lives in a probed cell, results come back exact-distance
    ordered, and the pq_code is a full M-subspace code string.  (ADC
    fidelity itself is regime-dependent — residuals only shrink when the
    corpus clusters; measured both ways in PERF_NOTES.)"""
    from sql2all_spark.functions.pqmath import PQ_M
    from sql2all_spark.operators.ivfpq import IVFPQ_TOPK, _route_cells
    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.tables import load_table

    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", dbl(F.col("embedding")).alias("v"))
    _, probes = _route_cells(vecs)
    probe_cells = {r.cent_id for r in probes.collect()}
    rows = (
        all_specs()["sim_ivfpq_residual_topk"].builder(spark, sf_dir).collect()
    )
    assert len(rows) == IVFPQ_TOPK
    assert all(r.cent_id in probe_cells for r in rows)
    exact = [r.exact_dist2 for r in rows]
    assert exact == sorted(exact)
    assert all(len(r.pq_code.split("-")) == PQ_M for r in rows)


def test_ivfpq_index_refresh_covers_corpus_exactly_once(spark, sf_dir):
    """Refresh integrity: after base-build + batch-append the stored index
    holds every corpus vector EXACTLY once (re-running the query must not
    accumulate duplicate batch rows — the build overwrites, the append is
    the only delta), and batch rows carry codes from the STORED codebook
    (identical to a from-scratch full build's codes)."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.ivfpq import (
        IVFPQ_INDEX_SCHEMA,
        build_ivfpq_index,
        refresh_ivfpq_index,
    )
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 3)
    batch = e.filter(F.col("vec_id") % 4 == 3)
    path = build_ivfpq_index(
        spark, sf_dir, source=base, train_source=e, suffix="_refresh"
    )
    refresh_ivfpq_index(spark, path, batch)
    idx = spark.read.schema(IVFPQ_INDEX_SCHEMA).parquet(path)
    n_corpus = e.count()
    assert idx.count() == n_corpus
    assert idx.select("vec_id").distinct().count() == n_corpus
    # refresh==rebuild, row for row (codes, cell, payload all equal)
    full = spark.read.schema(IVFPQ_INDEX_SCHEMA).parquet(
        build_ivfpq_index(spark, sf_dir)
    )
    sel = ["vec_id", "cent_id", F.col("codes").cast("string").alias("cs")]
    assert idx.select(*sel).exceptAll(full.select(*sel)).count() == 0


def test_sp_viterbi_matches_bruteforce_enumeration():
    """The pandas-UDF Viterbi (DP over (cost, seg) with the 0x7f
    separator) must equal the global minimum over ALL segmentations —
    the property the unrolled-DP oracle also encodes.  Exercises ties
    deliberately via a coarse cost grid and dropped multi-char pieces."""
    import random

    import pandas as pd

    from sql2all_spark.operators.sp_unigram import (
        SP_PIECE_MAX,
        _SEP,
        _viterbi_series,
    )

    rng = random.Random(13)
    for _ in range(200):
        n = rng.randint(1, 9)
        word = "".join(rng.choice("abc") for _ in range(n))
        pieces = {
            word[i:j]
            for i in range(n)
            for j in range(i + 1, min(i + SP_PIECE_MAX, n) + 1)
        }
        costs = {
            p: rng.randint(1, 40) * 1000
            for p in pieces
            if len(p) == 1 or rng.random() < 0.7
        }
        best = None
        for mask in range(1 << (n - 1)):
            cuts = (
                [0]
                + [i for i in range(1, n) if (mask >> (i - 1)) & 1]
                + [n]
            )
            segs = [word[a:b] for a, b in zip(cuts, cuts[1:])]
            if any(len(s) > SP_PIECE_MAX or s not in costs for s in segs):
                continue
            key = (
                sum(costs[s] for s in segs),
                "".join(s + _SEP for s in segs),
            )
            if best is None or key < best:
                best = key
        got = _viterbi_series(pd.Series([word]), costs).iloc[0]
        assert got == best[1], (word, got, best)


def test_sp_unigram_em_conserves_characters(spark, sf_dir):
    """A segmentation PARTITIONS each word's characters, so the
    count-weighted EM piece counts must conserve them exactly:
    sum(em_count * len(piece)) == sum(word_count * len(word)) over the
    words that enter the E-step.  Both engines could agree on a
    mis-segmentation; this pins the algebraic law neither side states."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.sp_unigram import SP_TOP, SP_WORD_MAX
    from sql2all_spark.tables import load_table

    rows = (
        all_specs()["text_sp_unigram_em"].builder(spark, sf_dir).collect()
    )
    # the conservation check needs EVERY used piece in the output — holds
    # whenever fewer than SP_TOP pieces are in use (true on the fixture)
    assert len(rows) < SP_TOP, "fixture grew; rewrite test to drop LIMIT"
    em_chars = sum(r["em_count"] * len(r["piece"]) for r in rows)
    d = load_table(spark, sf_dir, "documents")
    word_chars = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= SP_WORD_MAX))
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    assert em_chars == word_chars, (em_chars, word_chars)


def test_sp_unigram_prune_conserves_characters_and_shrinks(spark, sf_dir):
    """The prune round's EM counts obey the same character-conservation
    law as round 1 (a segmentation still partitions every word), AND the
    prune actually pruned: every multi-char piece in the round-2 output
    sits inside the top-SP_KEEP round-1 survivors, and at least one
    round-1 multi-char piece was dropped (non-trivial prune on the
    fixture)."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.sp_unigram import (
        SP_KEEP,
        SP_TOP,
        SP_WORD_MAX,
    )
    from sql2all_spark.tables import load_table

    em1 = all_specs()["text_sp_unigram_em"].builder(spark, sf_dir).collect()
    rows = (
        all_specs()["text_sp_unigram_prune"].builder(spark, sf_dir).collect()
    )
    assert len(rows) < SP_TOP, "fixture grew; rewrite test to drop LIMIT"
    # character conservation, round 2
    em_chars = sum(r["em_count"] * len(r["piece"]) for r in rows)
    d = load_table(spark, sf_dir, "documents")
    word_chars = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= SP_WORD_MAX))
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    assert em_chars == word_chars, (em_chars, word_chars)
    # survivors-only: round-2 multi-char pieces come from the round-1
    # top-SP_KEEP cut (singles are always allowed)
    keep = {
        r["piece"]
        for r in sorted(em1, key=lambda r: (-r["em_count"], r["piece"]))[
            :SP_KEEP
        ]
    }
    for r in rows:
        if len(r["piece"]) > 1:
            assert r["piece"] in keep, r["piece"]
    # the prune bit: round 1 used more multi-char pieces than survive it
    multi1 = {r["piece"] for r in em1 if len(r["piece"]) > 1}
    multi2 = {r["piece"] for r in rows if len(r["piece"]) > 1}
    assert multi2 < multi1, (len(multi2), len(multi1))
    # em1_count column is consistent with the round-1 ledger
    em1_of = {r["piece"]: r["em_count"] for r in em1}
    for r in rows:
        assert r["em1_count"] == em1_of.get(r["piece"], 0), r


def test_template_families_partition_dup_grams(spark, sf_dir):
    """Template families PARTITION the duplicated-gram hits: the family
    occurrence ledger sums to exactly the dup-gram position count that
    text_dup_ngram_spans reports (both enumerate the same hit set), and
    family sizes are internally consistent (a family of g distinct
    grams spanning k docs has at least max(g, 2) occurrences — every
    dup gram occurs in >= 2 docs by construction)."""
    fams = (
        all_specs()["text_template_mining"].builder(spark, sf_dir).collect()
    )
    spans = (
        all_specs()["text_dup_ngram_spans"].builder(spark, sf_dir).collect()
    )
    assert sum(f["n_occurrences"] for f in fams) == sum(
        s["n_dup_ngrams"] for s in spans
    )
    assert len({f["family_id"] for f in fams}) == len(fams)
    for f in fams:
        assert f["n_docs"] >= 2, f  # cross-doc by construction
        assert f["n_occurrences"] >= max(f["n_grams"], 2), f


def test_kn_bigram_matches_python_replica_and_normalizes(spark, sf_dir):
    """Independent pure-Python replica of the KN scorer (the brute-force
    Viterbi-pin discipline): rebuild the FULL count tables from the raw
    fixture, (a) verify the interpolated-KN normalization law — over the
    full model, sum_v P(v|u) == 1 exactly for every context — and (b)
    recompute every document's bounded-model fixed-point score and
    compare to the operator's output row for row.  Both engines could
    agree on a mis-derived model; this pins the algebra neither states."""
    import math
    from collections import Counter, defaultdict

    from sql2all_spark.functions.ngram_lm import (
        D as KN_D,
        SCALE as KN_SCALE,
        TOP as KN_BIGRAM_TOP,
        VOCAB as KN_VOCAB,
        packed_bits,
    )
    from sql2all_spark.operators.kn_lm import text_kn_bigram_score
    from sql2all_spark.functions.hashing import base_hash
    from sql2all_spark.tables import load_table
    from pyspark.sql import functions as F

    _B = 1 << packed_bits(2)
    # raw (doc_id, token-hash list), hashed with the SAME engine-side md5
    # (empty tokens dropped first — the ladder discipline, ADVICE r14)
    d = load_table(spark, sf_dir, "documents")
    rows = (
        d.select(
            "doc_id",
            F.transform(
                F.filter(F.split("text", " "), lambda t: t != F.lit("")),
                lambda t: base_hash(t) % F.lit(_B),
            ).alias("th"),
        )
        .filter(F.size("th") >= 2)
        .collect()
    )
    prs = defaultdict(list)
    bc = Counter()
    for r in rows:
        th = r["th"]
        for i in range(1, len(th)):
            bg = th[i - 1] * _B + th[i]
            prs[r["doc_id"]].append(bg)
            bc[bg] += 1
    cu, n1f, n1b = Counter(), Counter(), Counter()
    for bg, c in bc.items():
        u, v = bg // _B, bg % _B
        cu[u] += c
        n1f[u] += 1
        n1b[v] += 1
    N = len(bc)
    # (a) normalization law on the FULL model
    by_u = defaultdict(list)
    for bg in bc:
        by_u[bg // _B].append(bg)
    for u in list(by_u)[:50]:
        s = sum(
            (bc[bg] - KN_D) / cu[u]
            + ((KN_D * n1f[u]) / cu[u]) * (n1b[bg % _B] / N)
            for bg in by_u[u]
        )
        # residual lam(u) mass goes to continuations of OTHER v's:
        # full-model sum over ALL v adds lam(u) * (rest of P_cont) = 1
        lam = (KN_D * n1f[u]) / cu[u]
        rest = sum(n1b[v] for v in n1b) / N - sum(
            n1b[bg % _B] for bg in by_u[u]
        ) / N
        assert abs(s + lam * rest - 1.0) < 1e-9, u
    # (b) bounded-model per-doc scores, replicated exactly
    btop = set(
        bg
        for bg, _ in sorted(bc.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN_BIGRAM_TOP
        ]
    )
    ctx_top = set(
        u
        for u, _ in sorted(cu.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN_VOCAB
        ]
    )
    cont_top = set(
        v
        for v, _ in sorted(n1b.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN_VOCAB
        ]
    )
    got = {
        r["doc_id"]: r for r in text_kn_bigram_score(spark, sf_dir).collect()
    }
    assert set(got) == set(prs)
    for doc_id, bgs in prs.items():
        ssum = hits = 0
        for bg in bgs:
            u, v = bg // _B, bg % _B
            if bg in btop:
                p = (bc[bg] - KN_D) / cu[u] + ((KN_D * n1f[u]) / cu[u]) * (
                    n1b[v] / N
                )
                hits += 1
            else:
                lam = ((KN_D * n1f[u]) / cu[u]) if u in ctx_top else 1.0
                p = lam * ((n1b[v] if v in cont_top else 1) / N)
            ssum += math.floor(KN_SCALE * -math.log(p) + 0.5)
        g = got[doc_id]
        assert g["n_bigrams"] == len(bgs), doc_id
        assert g["n_model_hits"] == hits, doc_id
        # Python's math.log is a THIRD ln implementation: a 1-ulp
        # divergence from the engines' (which agree with each other —
        # the oracle gate pins that) can flip FLOOR(x+0.5) by one unit
        # per position right at a boundary.  Allow ±2 scaled units per
        # position (1 for a floor flip + 1 for the 6dp avg rounding);
        # scores are ~4e6 units/position, so this is still a 2e-6 pin.
        engine_sum = g["avg_neglogp"] * len(bgs) * KN_SCALE
        assert abs(engine_sum - ssum) <= 2 * len(bgs), (
            doc_id,
            engine_sum,
            ssum,
        )


def test_kn_trigram_matches_python_replica_and_normalizes(spark, sf_dir):
    """The bigram replica discipline extended one level (VERDICT r14 #3):
    rebuild the FULL trigram/continuation count tables in pure Python
    from the raw fixture, (a) verify the two-level interpolated-KN
    normalization law — over the full vocabulary, sum_w3 P(w3|w1,w2) == 1
    exactly for every prefix (which requires the MIDDLE level to
    normalize too), and (b) recompute every document's bounded-model
    fixed-point score and compare to the operator's output."""
    import math
    from collections import Counter, defaultdict

    from sql2all_spark.functions.ngram_lm import (
        D as KN3_D,
        SCALE as KN3_SCALE,
        TOP as KN3_TOP,
        VOCAB as KN3_VOCAB,
        packed_bits,
    )
    from sql2all_spark.operators.kn_lm import text_kn_trigram_score
    from sql2all_spark.functions.hashing import base_hash
    from sql2all_spark.tables import load_table
    from pyspark.sql import functions as F

    _B1 = 1 << packed_bits(3)
    _B2 = _B1 * _B1
    d = load_table(spark, sf_dir, "documents")
    rows = (
        d.select(
            "doc_id",
            F.transform(
                F.filter(F.split("text", " "), lambda t: t != F.lit("")),
                lambda t: base_hash(t) % F.lit(_B1),
            ).alias("th"),
        )
        .filter(F.size("th") >= 3)
        .collect()
    )
    prs = defaultdict(list)
    tc = Counter()
    for r in rows:
        th = r["th"]
        for i in range(2, len(th)):
            tg = th[i - 2] * _B2 + th[i - 1] * _B1 + th[i]
            prs[r["doc_id"]].append(tg)
            tc[tg] += 1
    c12, n1f = Counter(), Counter()  # per bigram PREFIX u12
    n1m = Counter()  # continuation count per bigram SUFFIX v23
    for tg, c in tc.items():
        u12 = tg // _B1
        c12[u12] += c
        n1f[u12] += 1
        n1m[tg % _B2] += 1
    den2, n1fm = Counter(), Counter()  # per middle word w2
    n1b = Counter()  # N1+(*, w3)
    for v23, c in n1m.items():
        den2[v23 // _B1] += c
        n1fm[v23 // _B1] += 1
        n1b[v23 % _B1] += 1
    N = len(n1m)
    vocab = list(n1b)  # every suffix type with a continuation count

    def pmid(w2: int, w3: int) -> float:
        disc = (n1m.get(w2 * _B1 + w3, 0) - KN3_D) / den2[w2]
        lam_mid = (KN3_D * n1fm[w2]) / den2[w2]
        return max(disc, 0.0) + lam_mid * (n1b[w3] / N)

    # (a) full-model normalization at BOTH levels
    by_u = defaultdict(list)
    for tg in tc:
        by_u[tg // _B1].append(tg)
    for u12 in list(by_u)[:30]:
        w2 = u12 % _B1
        lam12 = (KN3_D * n1f[u12]) / c12[u12]
        s = sum((tc[tg] - KN3_D) / c12[u12] for tg in by_u[u12])
        s += lam12 * sum(pmid(w2, w3) for w3 in vocab)
        assert abs(s - 1.0) < 1e-9, u12
        assert abs(sum(pmid(w2, w3) for w3 in vocab) - 1.0) < 1e-9, w2
    # (b) bounded-model per-doc scores, replicated exactly
    ttop = set(
        tg
        for tg, _ in sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN3_TOP
        ]
    )
    ctx_top = set(
        u
        for u, _ in sorted(c12.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN3_VOCAB
        ]
    )
    mid_top = set(
        v
        for v, _ in sorted(n1m.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN3_VOCAB
        ]
    )
    midctx_top = set(
        w
        for w, _ in sorted(den2.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN3_VOCAB
        ]
    )
    cont_top = set(
        v
        for v, _ in sorted(n1b.items(), key=lambda kv: (-kv[1], kv[0]))[
            :KN3_VOCAB
        ]
    )
    got = {
        r["doc_id"]: r
        for r in text_kn_trigram_score(spark, sf_dir).collect()
    }
    assert set(got) == set(prs)
    for doc_id, tgs in prs.items():
        ssum = hits = 0
        for tg in tgs:
            u12, v23 = tg // _B1, tg % _B2
            w2, w3 = u12 % _B1, tg % _B1
            if tg in ttop:
                p = (tc[tg] - KN3_D) / c12[u12] + (
                    (KN3_D * n1f[u12]) / c12[u12]
                ) * pmid(w2, w3)
                hits += 1
            else:
                lam = (
                    ((KN3_D * n1f[u12]) / c12[u12])
                    if u12 in ctx_top
                    else 1.0
                )
                nb = n1b[w3] if w3 in cont_top else 1
                if v23 in mid_top and w2 in midctx_top:
                    pm = (n1m[v23] - KN3_D) / den2[w2] + (
                        (KN3_D * n1fm[w2]) / den2[w2]
                    ) * (nb / N)
                else:
                    lam_mid = (
                        ((KN3_D * n1fm[w2]) / den2[w2])
                        if w2 in midctx_top
                        else 1.0
                    )
                    pm = lam_mid * (nb / N)
                p = lam * pm
            ssum += math.floor(KN3_SCALE * -math.log(p) + 0.5)
        g = got[doc_id]
        assert g["n_trigrams"] == len(tgs), doc_id
        assert g["n_model_hits"] == hits, doc_id
        # same ±2-units/position tolerance as the bigram replica
        # (math.log is a third ln implementation; the integer half-up
        # avg quantization adds at most half a unit)
        engine_sum = g["avg_neglogp"] * len(tgs) * KN3_SCALE
        assert abs(engine_sum - ssum) <= 2 * len(tgs), (
            doc_id,
            engine_sum,
            ssum,
        )


_MESSY_DOCS = [
    "a  b c",
    "a b c ",
    " a b  c d",
    "b c a b c  a",
    "x  y",
    "c",
    "   ",
    "a b c d e a b c",
]


@pytest.mark.parametrize(
    "name",
    [
        "text_unigram_lm_score",
        "text_bigram_lm_score",
        "text_trigram_lm_score",
        "text_kn_bigram_score",
        "text_kn_trigram_score",
    ],
)
def test_lm_scorers_drop_empty_tokens(spark, tmp_path, name):
    """Whitespace runs and leading/trailing spaces mint no tokens in any
    scorer: each matches its DuckDB oracle over messy text, and the SB
    scorers count only the non-empty tokens."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.check import frame_rows

    n = len(_MESSY_DOCS)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": _MESSY_DOCS,
                "lang": ["en"] * n,
                "source": ["src0"] * n,
                "n_chars": pa.array([len(t) for t in _MESSY_DOCS], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    spec = all_specs()[name]
    got = spec.builder(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    want = con.execute(spec.oracle).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert frame_rows(got) == frame_rows(want)
    if "n_tokens" in got.columns:
        for doc_id, n_tokens in zip(got["doc_id"], got["n_tokens"]):
            words = [t for t in _MESSY_DOCS[doc_id].split(" ") if t]
            assert n_tokens == len(words), doc_id


def test_sp_train_loop_conserves_chars_shrinks_and_reenters_literally(
    spark, sf_dir
):
    """The EM+prune LOOP (r15) extends the prune-round laws to every
    round: (a) the FINAL round's EM counts still conserve characters
    exactly (a segmentation partitions every word in every round);
    (b) the loop actually converged through the schedule — the final
    multi-char vocabulary fits the last keep cut and sits inside the
    FIRST round's keep-40 cut (survivor sets only ever shrink);
    (c) em1_count matches the round-1 EM ledger; and (d) literal
    re-entry holds — two E-step plans under DIFFERENT cost tables are
    byte-identical after id-normalization, so per-round plans are the
    same plan and lineage cannot grow with the schedule."""
    import re

    from pyspark.sql import functions as F

    from sql2all_spark.operators.sp_unigram import (
        SP_LOOP_SCHEDULE,
        SP_TOP,
        SP_WORD_MAX,
        _em_round,
        _segment_em,
    )
    from sql2all_spark.plans import physical_plan
    from sql2all_spark.tables import load_table

    rows = (
        all_specs()["text_sp_unigram_train"].builder(spark, sf_dir).collect()
    )
    assert len(rows) < SP_TOP, "fixture grew; rewrite test to drop LIMIT"
    # (a) character conservation after the full loop
    em_chars = sum(r["em_count"] * len(r["piece"]) for r in rows)
    d = load_table(spark, sf_dir, "documents")
    word_chars = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= SP_WORD_MAX))
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    assert em_chars == word_chars, (em_chars, word_chars)
    # (b) convergence through the schedule
    multi = [r for r in rows if len(r["piece"]) > 1]
    assert 0 < len(multi) <= SP_LOOP_SCHEDULE[-1]
    em1 = all_specs()["text_sp_unigram_em"].builder(spark, sf_dir).collect()
    keep1 = {
        r["piece"]
        for r in sorted(em1, key=lambda r: (-r["em_count"], r["piece"]))[
            : SP_LOOP_SCHEDULE[0]
        ]
    }
    for r in multi:
        assert r["piece"] in keep1, r["piece"]
    # (c) round-1 ledger consistency
    em1_of = {r["piece"]: r["em_count"] for r in em1}
    for r in rows:
        assert r["em1_count"] == em1_of.get(r["piece"], 0), r
    # (d) literal re-entry: same plan under different cost tables
    words, vc, _, _ = _em_round(spark, sf_dir)
    costs = {r["piece"]: r["cost"] for r in vc.collect()}
    costs2 = {p: c + 1000 for p, c in costs.items()}

    def norm(p: str) -> str:
        p = re.sub(r"#\d+L?", "#", p)
        p = re.sub(r"plan_id=\d+", "plan_id=", p)
        p = re.sub(r"\[id=#?\d*\]", "[id=]", p)
        return p

    p1 = norm(physical_plan(_segment_em(words, costs)))
    p2 = norm(physical_plan(_segment_em(words, costs2)))
    assert p1 == p2


def test_template_keeper_replicates_policy_and_partitions_hits(
    spark, sf_dir
):
    """Pure-Python replica of the keeper policy over the SAME hit/family
    tables the builder consumes: merge each (family, doc)'s consecutive
    positions into spans, pick min(doc_id, span_start), and compare
    every governance row exactly.  Also pins the accounting bridge to
    the enumeration: per family, sum(span_tokens) - n_spans*(GRAM-1)
    == text_template_mining's n_occurrences (spans partition hits)."""
    from collections import defaultdict

    from sql2all_spark.operators.template import DUP_SPAN_GRAM, family_hits

    hits, fam = family_hits(spark, sf_dir)
    fam_of = {r["h"]: r["family_id"] for r in fam.collect()}
    by_fd = defaultdict(list)
    for r in hits.collect():
        by_fd[(fam_of[r["h"]], r["doc_id"])].append(r["pos"])
    spans = defaultdict(list)  # family -> [(doc, start, tokens)]
    for (f, doc), poss in by_fd.items():
        poss.sort()
        start = prev = poss[0]
        for p in poss[1:]:
            if p != prev + 1:
                spans[f].append((doc, start, prev - start + DUP_SPAN_GRAM))
                start = p
            prev = p
        spans[f].append((doc, start, prev - start + DUP_SPAN_GRAM))
    got = {
        r["family_id"]: r
        for r in all_specs()["text_template_keeper"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(spans)
    for f, sp in spans.items():
        g = got[f]
        keeper = min(sp)  # (doc_id, span_start, tokens) lexicographic
        assert g["n_spans"] == len(sp), f
        assert g["n_docs"] == len({d for d, _, _ in sp}), f
        assert g["keeper_doc_id"] == keeper[0], f
        assert g["keeper_span_start"] == keeper[1], f
        assert g["keeper_tokens"] == keeper[2], f
        assert g["strip_tokens"] == sum(t for _, _, t in sp) - keeper[2], f
    # accounting bridge: spans partition the enumeration's hit set
    fams = {
        r["family_id"]: r
        for r in all_specs()["text_template_mining"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(fams) == set(got)
    for f, g in got.items():
        tot = g["strip_tokens"] + g["keeper_tokens"]
        n_hits = tot - g["n_spans"] * (DUP_SPAN_GRAM - 1)
        assert n_hits == fams[f]["n_occurrences"], f
        assert g["n_docs"] == fams[f]["n_docs"], f


def test_domain_quality_profile_reconciles_with_filter_leg(spark, sf_dir):
    """The per-domain profile is the SAME scored corpus as the lang-keyed
    filter leg, re-keyed: total docs, total kept/dropped docs, and the
    exact fixed-point score sum must all reconcile; per-domain rows must
    be internally consistent (min <= max, sum within [n*min, n*max]);
    and kept semantics match the filter threshold."""
    from collections import Counter

    prof = (
        all_specs()["embed_domain_quality_profile"]
        .builder(spark, sf_dir)
        .collect()
    )
    filt = all_specs()["text_quality_filter"].builder(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in prof) == sum(r["n_docs"] for r in filt)
    assert sum(r["sum_p_fx"] for r in prof) == sum(
        r["sum_p_fx"] for r in filt
    )
    kept_p = Counter()
    for r in prof:
        kept_p[r["kept"]] += r["n_docs"]
        assert r["min_p_fx"] <= r["max_p_fx"], r
        assert (
            r["n_docs"] * r["min_p_fx"]
            <= r["sum_p_fx"]
            <= r["n_docs"] * r["max_p_fx"]
        ), r
    kept_f = Counter()
    for r in filt:
        kept_f[r["kept"]] += r["n_docs"]
    assert kept_p == kept_f
    assert {r["kept"] for r in prof} <= {0, 1}


def test_tau_apply_replicates_discrete_median_policy(spark, sf_dir):
    """Pure-Python replica of the tau policy over the SAME scored/domain
    frames the builder consumes: tau_d = the p_fx at rank ceil(n/2)
    ascending (doc_id tiebreak), keeps = p_fx >= tau_d; every governance
    row compared exactly.  Also reconciles n_docs per domain against the
    quality profile (same bridge, same corpus)."""
    from collections import defaultdict

    from sql2all_spark.functions.clf_core import _feats, _p_fx, _z, trained_weights
    from sql2all_spark.functions.domain_core import assigned_domains, load_vecs
    from pyspark.sql import functions as F

    feats = _feats(spark, sf_dir)
    w = trained_weights(feats, sf_dir)
    scored = {
        r["doc_id"]: r["p_fx"]
        for r in feats.select(
            "doc_id", _p_fx(_z(w)).alias("p_fx")
        ).collect()
    }
    dom_of = {
        r["vec_id"]: str(r["domain"])
        for r in assigned_domains(load_vecs(spark, sf_dir)).collect()
    }
    by_dom = defaultdict(list)
    for doc_id, p in scored.items():
        by_dom[dom_of.get(doc_id, "unassigned")].append((p, doc_id))
    got = {
        r["domain"]: r
        for r in all_specs()["embed_domain_tau_apply"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(by_dom)
    for d, rows in by_dom.items():
        rows.sort()
        n = len(rows)
        tau = rows[(n + 1) // 2 - 1][0]
        kept = [p for p, _ in rows if p >= tau]
        g = got[d]
        assert g["tau"] == tau, d
        assert g["n_docs"] == n, d
        assert g["n_kept"] == len(kept), d
        assert g["kept_p1000"] == len(kept) * 1000 // n, d
        assert g["kept_score_mass"] == sum(kept), d
        # the median policy keeps at least half, never more than all
        assert n // 2 <= len(kept) <= n, d
    prof = {
        (r["domain"], r["kept"]): r["n_docs"]
        for r in all_specs()["embed_domain_quality_profile"]
        .builder(spark, sf_dir)
        .collect()
    }
    for d, g in got.items():
        assert g["n_docs"] == prof.get((d, 0), 0) + prof.get((d, 1), 0), d


def test_sp_encode_bridges_training_ledger_and_counts(spark, sf_dir):
    """The encode leg must reconcile EXACTLY with the training loop it
    applies: corpus-wide sum(n_pieces) equals the final EM ledger's
    count-weighted piece usage (sum of em_count — each word's
    segmentation counted once per occurrence), every document's piece
    count is bounded by [encodable words, encodable chars], and
    n_words / n_skipped match a raw recount of the fixture."""
    from collections import Counter

    from sql2all_spark.operators.sp_unigram import (
        SP_LOOP_SCHEDULE,
        SP_WORD_MAX,
        trained_costs,
    )
    from sql2all_spark.tables import load_table
    from pyspark.sql import functions as F

    rows = {
        r["doc_id"]: r
        for r in all_specs()["text_sp_encode"].builder(spark, sf_dir).collect()
    }
    # raw recount straight off the fixture
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != F.lit("")).alias("ws"),
    ).collect()
    assert set(rows) == {r["doc_id"] for r in raw}
    enc_chars = Counter()
    for r in raw:
        g = rows[r["doc_id"]]
        ws = r["ws"]
        assert g["n_words"] == len(ws), r["doc_id"]
        assert g["n_skipped"] == sum(len(w) > SP_WORD_MAX for w in ws)
        n_enc = len(ws) - g["n_skipped"]
        assert n_enc <= g["n_pieces"] <= sum(
            len(w) for w in ws if len(w) <= SP_WORD_MAX
        ), r["doc_id"]
        if n_enc:
            assert g["pieces_p1000"] == g["n_pieces"] * 1000 // n_enc
    # the cross-query bridge: encode totals == final EM ledger totals
    _, _, em_final, _, _ = trained_costs(spark, sf_dir, SP_LOOP_SCHEDULE)
    ledger_pieces = sum(r["em_count"] for r in em_final.collect())
    assert sum(g["n_pieces"] for g in rows.values()) == ledger_pieces


@pytest.mark.parametrize(
    "name",
    ["text_sp_unigram_em", "text_sp_unigram_prune", "text_sp_unigram_train"],
)
def test_sp_trained_costs_session_store_cold_warm_identical(
    spark, sf_dir, name
):
    """The trainer's session store (the clf_core pattern): every keep
    schedule runs its EM+prune loop once per (session, corpus, schedule),
    and the training loop's schedule is shared with the encode leg.
    Pins, per report query, (a) cold-vs-warm value identity for the
    report and its consumer (the encode leg for the training loop, the
    report itself otherwise), (b) a warm BUILD launches ZERO Spark jobs
    (the multi-round collects are gone; only deferred lineage remains),
    and (c) path aliasing resolves to the same realpath-keyed entry."""
    import os

    from sql2all_spark.operators import sp_unigram
    from sql2all_spark.operators.sp_encode import text_sp_encode

    schedule = {
        "text_sp_unigram_em": (),
        "text_sp_unigram_prune": (sp_unigram.SP_KEEP,),
        "text_sp_unigram_train": sp_unigram.SP_LOOP_SCHEDULE,
    }[name]
    consumer = (
        text_sp_encode
        if schedule == sp_unigram.SP_LOOP_SCHEDULE
        else all_specs()[name].builder
    )
    key = (os.path.realpath(sf_dir), schedule)
    sp_unigram.clear_trained_cache()
    cold = all_specs()[name].builder(spark, sf_dir).collect()
    assert key in sp_unigram._TRAINED_CACHE  # the miss seeded the store
    costs_cold, em1_cold = sp_unigram._TRAINED_CACHE[key]

    # warm BUILD must launch no jobs (lazy word scan + literal costs)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    df = all_specs()[name].builder(spark, sf_dir)
    ran = len(set(st.getJobIdsForGroup()) - before)
    assert ran == 0, f"warm-store build launched {ran} loop jobs"
    assert df.collect() == cold  # values byte-identical, hit vs miss

    # the consumer reads the SAME warm entry and stays identical to its
    # own cold run (aliased path -> same realpath entry)
    alias = sf_dir.rstrip("/") + "/."
    enc_warm = consumer(spark, alias).collect()
    assert (costs_cold, em1_cold) == sp_unigram._TRAINED_CACHE[key]
    sp_unigram.clear_trained_cache()
    enc_cold = consumer(spark, sf_dir).collect()
    assert enc_cold == enc_warm
    assert sp_unigram._TRAINED_CACHE[key] == (costs_cold, em1_cold)


def test_sp_schedules_resume_from_stored_prefix(spark, sf_dir):
    """A schedule resumes from its longest stored prefix: after ``em``, a
    cold ``prune`` skips the seed chain, and a cold ``train`` after both
    also skips round 1's EM collect.  Each gives the rows of a build from
    an empty store, in fewer jobs."""
    from sql2all_spark.operators import sp_unigram

    st = spark.sparkContext.statusTracker()

    def build(name):
        spark.catalog.clearCache()  # each build re-scans the word table
        before = set(st.getJobIdsForGroup())
        rows = all_specs()[name].builder(spark, sf_dir).collect()
        return rows, len(set(st.getJobIdsForGroup()) - before)

    alone = {}
    for name in ("text_sp_unigram_prune", "text_sp_unigram_train"):
        sp_unigram.clear_trained_cache()
        alone[name] = build(name)
    sp_unigram.clear_trained_cache()
    build("text_sp_unigram_em")
    for name in ("text_sp_unigram_prune", "text_sp_unigram_train"):
        rows, jobs = build(name)
        assert rows == alone[name][0], name
        assert jobs < alone[name][1], (name, jobs, alone[name][1])


def test_template_strip_replicates_rewrite_and_reconciles_keeper(
    spark, sf_dir
):
    """Pure-Python replica of the strip rewrite over the same hit/family
    tables: keeper span per family = min(doc, start) (the keeper
    query's policy), strip positions = union of non-keeper spans'
    covered words, cleaned text = surviving words rejoined — every
    output row compared exactly INCLUDING the cleaned-text base_hash.
    Also reconciles against text_template_keeper: total stripped words
    <= sum of keeper strip_tokens (equal iff no cross-family overlap),
    and clean documents pass through with fp == hash(original)."""
    from collections import defaultdict

    from sql2all_spark.operators.template import DUP_SPAN_GRAM, family_hits
    from sql2all_spark.tables import load_table
    from pyspark.sql import functions as F
    import hashlib

    def bh(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    hits, fam = family_hits(spark, sf_dir)
    fam_of = {r["h"]: r["family_id"] for r in fam.collect()}
    by_fd = defaultdict(list)
    for r in hits.collect():
        by_fd[(fam_of[r["h"]], r["doc_id"])].append(r["pos"])
    spans = defaultdict(list)  # family -> [(doc, start, [positions])]
    for (f, doc), poss in by_fd.items():
        poss.sort()
        run = [poss[0]]
        for p in poss[1:]:
            if p == run[-1] + 1:
                run.append(p)
            else:
                spans[f].append((doc, run[0], list(run)))
                run = [p]
        spans[f].append((doc, run[0], list(run)))
    strip_words = defaultdict(set)  # doc -> {word positions}
    strip_span_n = defaultdict(int)
    for f, sp in spans.items():
        keeper = min((d, s) for d, s, _ in sp)
        for d, s, poss in sp:
            if (d, s) == keeper:
                continue
            strip_span_n[d] += 1
            for p in poss:
                strip_words[d].update(range(p, p + DUP_SPAN_GRAM))
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    got = {
        r["doc_id"]: r
        for r in all_specs()["text_template_strip"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(docs)
    total_stripped = 0
    for doc_id, ws in docs.items():
        g = got[doc_id]
        sw = strip_words.get(doc_id, set())
        kept = [w for i, w in enumerate(ws, start=1) if i not in sw]
        assert g["n_words"] == len(ws), doc_id
        assert g["n_spans_stripped"] == strip_span_n.get(doc_id, 0), doc_id
        assert g["n_after"] == len(kept), doc_id
        assert g["n_stripped"] == len(ws) - len(kept), doc_id
        assert g["cleaned_fp"] == bh(" ".join(kept)), doc_id
        total_stripped += g["n_stripped"]
    keeper_rows = (
        all_specs()["text_template_keeper"].builder(spark, sf_dir).collect()
    )
    assert total_stripped <= sum(r["strip_tokens"] for r in keeper_rows)
    # at least one real strip and at least one clean pass-through
    assert total_stripped > 0
    clean = [d for d in docs if d not in strip_words]
    assert any(
        got[d]["cleaned_fp"] == bh(" ".join(docs[d])) for d in clean
    )


def test_tau_caps_reconciles_both_parent_policies(spark, sf_dir):
    """The two-policy table must reconcile EXACTLY against both parents:
    (a) per domain, its tau equals embed_domain_tau_apply's tau and the
    source-summed doc/tau-keep counts equal the apply leg's n_docs /
    n_kept (tau binds first, so the cap cannot change them); (b) per
    source, the domain-summed final keeps equal min(CAP_N, that
    source's total tau-survivors) — the cap's meaning under tau-first
    ordering; and (c) every row obeys 0 <= n_final_kept <= n_tau_kept
    <= n_docs with n_cap_dropped the exact difference."""
    from collections import defaultdict

    from sql2all_spark.operators.classifier import CAP_N

    rows = (
        all_specs()["embed_domain_tau_caps"].builder(spark, sf_dir).collect()
    )
    apply_rows = {
        r["domain"]: r
        for r in all_specs()["embed_domain_tau_apply"]
        .builder(spark, sf_dir)
        .collect()
    }
    # (c) row-local sanity + exact difference
    for r in rows:
        assert 0 <= r["n_final_kept"] <= r["n_tau_kept"] <= r["n_docs"], r
        assert r["n_cap_dropped"] == r["n_tau_kept"] - r["n_final_kept"], r
    # (a) the tau leg is unchanged by the cap
    by_dom = defaultdict(lambda: [0, 0])
    taus = {}
    for r in rows:
        by_dom[r["domain"]][0] += r["n_docs"]
        by_dom[r["domain"]][1] += r["n_tau_kept"]
        taus.setdefault(r["domain"], set()).add(r["tau"])
    assert set(by_dom) == set(apply_rows)
    for d, (nd, nk) in by_dom.items():
        assert taus[d] == {apply_rows[d]["tau"]}, d
        assert nd == apply_rows[d]["n_docs"], d
        assert nk == apply_rows[d]["n_kept"], d
    # (b) the cap binds exactly on the survivor pool per source
    by_src = defaultdict(lambda: [0, 0])
    for r in rows:
        by_src[r["source"]][0] += r["n_tau_kept"]
        by_src[r["source"]][1] += r["n_final_kept"]
    for s, (surv, fin) in by_src.items():
        assert fin == min(CAP_N, surv), (s, surv, fin)


def test_post_strip_dedup_replicates_groups_and_gains_yield(spark, sf_dir):
    """Pure-Python replica of the post-strip dedup over its two sibling
    queries' own outputs: group text_template_strip's per-doc cleaned_fp
    values, recompute every group's member count / MIN keeper /
    distinct-pre-fingerprint count from the raw fixture, and compare
    each output row exactly.  Also pins the operator's reason to exist:
    post-strip collapse strictly contains pre-strip collapse (every
    dedup_exact duplicate group stays merged — identical raw text stays
    identical after the strip) and merged_gain > 0 somewhere (the strip
    CREATED collapse the raw fingerprint could not see)."""
    import hashlib
    from collections import defaultdict

    from sql2all_spark.tables import load_table

    out = (
        all_specs()["dedup_post_strip"].builder(spark, sf_dir).collect()
    )
    strip_fp = {
        r["doc_id"]: r["cleaned_fp"]
        for r in all_specs()["text_template_strip"]
        .builder(spark, sf_dir)
        .collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    pre_fp = {
        r["doc_id"]: hashlib.md5(
            r["text"].strip().lower().encode()
        ).hexdigest()
        for r in docs
    }
    # replica groups over the sibling query's fingerprints
    groups = defaultdict(list)
    for doc_id, fp in strip_fp.items():
        groups[fp].append(doc_id)
    expect = {
        fp: (
            len(ids),
            min(ids),
            len({pre_fp[i] for i in ids}),
        )
        for fp, ids in groups.items()
        if len(ids) >= 2
    }
    got = {
        r["cleaned_fp"]: (r["n_docs"], r["keeper_doc_id"], r["n_pre_fps"])
        for r in out
    }
    assert got == expect
    for r in out:
        assert r["merged_gain"] == r["n_pre_fps"] - 1, r
    # pre-strip duplicate groups stay merged post-strip
    pre_groups = defaultdict(list)
    for doc_id, fp in pre_fp.items():
        pre_groups[fp].append(doc_id)
    for fp, ids in pre_groups.items():
        if len(ids) >= 2:
            assert len({strip_fp[i] for i in ids}) == 1, fp
    # and the strip created NEW collapse (the yield claim)
    assert any(r["merged_gain"] > 0 for r in out)


def test_post_strip_keeper_replicates_argmax_policy(spark, sf_dir):
    """Pure-Python replica of the quality keeper over its sibling
    queries' own outputs: group text_template_strip's per-doc
    cleaned_fp, score every doc with the same stored weights
    (clf_core.trained_weights re-derivation through the builder), take
    argmax (p_fx, -doc_id), and compare every governance row exactly.
    Also pins the group bridge to dedup_post_strip (same groups, same
    member counts) and that the policy is NON-vacuous on the fixture
    (keeper_differs = 1 somewhere — the reason the leg exists)."""
    from collections import defaultdict

    from sql2all_spark.functions.clf_core import (
        _feats,
        _p_fx,
        _z,
        trained_weights,
    )

    out = (
        all_specs()["dedup_post_strip_keeper"]
        .builder(spark, sf_dir)
        .collect()
    )
    strip_fp = {
        r["doc_id"]: r["cleaned_fp"]
        for r in all_specs()["text_template_strip"]
        .builder(spark, sf_dir)
        .collect()
    }
    feats = _feats(spark, sf_dir)
    w = trained_weights(feats, sf_dir)
    score = {
        r["doc_id"]: r["p"]
        for r in feats.select(
            "doc_id", _p_fx(_z(w)).alias("p")
        ).collect()
    }
    groups = defaultdict(list)
    for doc_id, fp in strip_fp.items():
        groups[fp].append(doc_id)
    expect = {}
    for fp, ids in groups.items():
        if len(ids) < 2:
            continue
        keeper = max(ids, key=lambda i: (score[i], -i))
        expect[fp] = (
            len(ids),
            keeper,
            score[keeper],
            min(ids),
            int(keeper != min(ids)),
            sum(score[i] for i in ids) - score[keeper],
        )
    got = {
        r["cleaned_fp"]: (
            r["n_docs"],
            r["keeper_doc_id"],
            r["keeper_score"],
            r["naive_keeper_doc_id"],
            r["keeper_differs"],
            r["dropped_score_mass"],
        )
        for r in out
    }
    assert got == expect
    # bridge to dedup_post_strip: identical groups and member counts
    ps = {
        r["cleaned_fp"]: r["n_docs"]
        for r in all_specs()["dedup_post_strip"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert {fp: g[0] for fp, g in expect.items()} == ps
    # non-vacuous on the fixture
    assert any(r["keeper_differs"] == 1 for r in out)


def test_sp_pack_matches_python_replica_and_conserves_tokens(spark, sf_dir):
    """Full replica of the r16 sequence packer: rebuild the packed
    manifest in pure Python from the encode leg's per-doc piece counts
    (cumsum in doc_id order, cut every SP_PACK_LEN) and compare every
    row; plus the conservation laws — contiguous seq_ids, every
    sequence but the last exactly full, token totals equal
    sum(n_pieces) + n_docs (one EOS per document), and full+split doc
    counts tiling each sequence's membership."""
    from collections import defaultdict

    from sql2all_spark.operators.sp_encode import text_sp_encode
    from sql2all_spark.operators.sp_pack import (
        SP_PACK_LEN,
        text_sp_pack_sequences,
    )

    enc = {
        r["doc_id"]: r["n_pieces"]
        for r in text_sp_encode(spark, sf_dir).collect()
    }
    agg = defaultdict(lambda: [0, 0, 0, 0])  # n_docs, n_tok, full, split
    c = 0
    for doc_id in sorted(enc):
        toks = enc[doc_id] + 1  # EOS
        c_start, c_end = c, c + toks
        first_seq, last_seq = c_start // SP_PACK_LEN, (c_end - 1) // SP_PACK_LEN
        for s in range(first_seq, last_seq + 1):
            a = agg[s]
            a[0] += 1
            a[1] += min(c_end, (s + 1) * SP_PACK_LEN) - max(
                c_start, s * SP_PACK_LEN
            )
            if first_seq == last_seq:
                a[2] += 1
            else:
                a[3] += 1
        c = c_end
    rows = text_sp_pack_sequences(spark, sf_dir).collect()
    assert [r["seq_id"] for r in rows] == sorted(agg)
    assert sorted(agg) == list(range(len(agg)))  # contiguous from 0
    total = sum(enc.values()) + len(enc)
    assert sum(r["n_tokens"] for r in rows) == total  # conservation
    for r in rows:
        a = agg[r["seq_id"]]
        assert (r["n_docs"], r["n_tokens"], r["n_full_docs"], r["n_split_docs"]) == (
            a[0],
            a[1],
            a[2],
            a[3],
        ), r
        assert r["n_full_docs"] + r["n_split_docs"] == r["n_docs"]
        assert r["fill_p1000"] == r["n_tokens"] * 1000 // SP_PACK_LEN
        if r["seq_id"] < len(agg) - 1:
            assert r["n_tokens"] == SP_PACK_LEN  # only the tail is partial


def test_pretrain_funnel_reconciles_with_post_strip_dedup(spark, sf_dir):
    """The funnel's stage ledger must reconcile against its parents:
    stage chaining (n_in[k+1] == n_out[k]), the integer keep rate, and
    stage 1's survivor count derived independently from the
    dedup_post_strip duplicate-group report (survivors = total docs -
    sum(n_docs - 1) over groups — the MIN-doc_id keeper rule)."""
    from sql2all_spark.functions.clf_core import CAP_N
    from sql2all_spark.operators.funnel import pipeline_pretrain_funnel
    from sql2all_spark.operators.strip_dedup import dedup_post_strip
    from sql2all_spark.tables import load_table

    rows = {r["stage_ord"]: r for r in pipeline_pretrain_funnel(spark, sf_dir).collect()}
    assert [rows[k]["stage"] for k in (1, 2, 3)] == [
        "post_strip_dedup",
        "domain_tau",
        "source_caps",
    ]
    n_docs = load_table(spark, sf_dir, "documents").count()
    dup_groups = dedup_post_strip(spark, sf_dir).collect()
    survivors = n_docs - sum(g["n_docs"] - 1 for g in dup_groups)
    assert rows[1]["n_in"] == n_docs
    assert rows[1]["n_out"] == survivors
    for k in (1, 2, 3):
        r = rows[k]
        assert r["n_dropped"] == r["n_in"] - r["n_out"]
        assert 0 <= r["n_out"] <= r["n_in"]
        assert r["keep_p1000"] == (
            0 if r["n_in"] == 0 else r["n_out"] * 1000 // r["n_in"]
        )
    assert rows[2]["n_in"] == rows[1]["n_out"]
    assert rows[3]["n_in"] == rows[2]["n_out"]
    # tau keeps each domain's upper half: at least half survive overall
    assert rows[2]["n_out"] * 2 >= rows[2]["n_in"]
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert rows[3]["n_out"] <= n_sources * CAP_N


def test_kn_ccnet_buckets_tile_the_scorer(spark, sf_dir):
    """The bucket profile must tile the scorer output exactly: per-lang
    doc/trigram/model-hit sums equal the lang-joined scorer's, and the
    NTILE ordering implies head <= middle <= tail score bands within
    each language (ties may touch at the boundary)."""
    from collections import defaultdict

    from sql2all_spark.functions.ngram_lm import kn_doc_scores
    from sql2all_spark.operators.ccnet import text_kn_ccnet_buckets
    from sql2all_spark.tables import load_table

    lang = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    per_lang = defaultdict(lambda: [0, 0, 0])
    for r in kn_doc_scores(spark, sf_dir, 3).collect():
        a = per_lang[lang[r["doc_id"]]]
        a[0] += 1
        a[1] += r["n_trigrams"]
        a[2] += r["n_model_hits"]
    rows = text_kn_ccnet_buckets(spark, sf_dir).collect()
    got = defaultdict(lambda: [0, 0, 0])
    bands = defaultdict(dict)
    for r in rows:
        g = got[r["lang"]]
        g[0] += r["n_docs"]
        g[1] += r["n_trigrams"]
        g[2] += r["n_model_hits"]
        bands[r["lang"]][r["bucket"]] = (r["min_score"], r["max_score"])
        assert r["min_score"] <= r["avg_score"] <= r["max_score"]
    assert {k: list(v) for k, v in got.items()} == {
        k: list(v) for k, v in per_lang.items()
    }
    for lg, b in bands.items():
        if {"head", "middle", "tail"} <= set(b):
            assert b["head"][1] <= b["middle"][0] or abs(
                b["head"][1] - b["middle"][0]
            ) < 1e-12
            assert b["middle"][1] <= b["tail"][0] or abs(
                b["middle"][1] - b["tail"][0]
            ) < 1e-12
