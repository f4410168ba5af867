"""Physical-plan audits: the scale properties the 100 TB design depends on,
asserted structurally so a refactor can't silently regress them.

These mirror `.explain("formatted")` review: filters reach the parquet scan
(PushedFilters), projection prunes the ReadSchema, dims broadcast, top-k
plans as TakeOrderedAndProject (bounded heaps, no global sort), and
aggregates run partial→final (map-side combine before the exchange).
"""

from __future__ import annotations

from sql2all_spark.plans import physical_plan
from sql2all_spark.registry import all_specs


def _plan(spark, sf_dir, name: str) -> str:
    return physical_plan(all_specs()[name].builder(spark, sf_dir))


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7 of lineitem's 16 columns read — the projection reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    # partial (map-side) + final aggregate around one exchange
    assert plan.count("HashAggregate") >= 2


def test_multiway_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_multiway_revenue")
    # all five joins broadcast at test SF (fact sides fit the 64MB
    # threshold); at cluster scale the fact-fact pair degrades to SMJ by the
    # same threshold logic — the invariant worth pinning is that the dims
    # (region/nation/supplier) never arrive via a shuffle exchange
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_topk_uses_bounded_heap_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sim_topk_bruteforce")
    assert "TakeOrderedAndProject" in plan
    # the query-vector filter is pushed into the scan on the broadcast side
    assert "EqualTo(vec_id,0)" in plan


def test_semi_join_never_materializes_payload(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi")
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)" in plan


def test_exact_dedup_is_partial_aggregated(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact")
    # map-side partial agg on the fingerprint means only (hash, count, min)
    # rows cross the exchange — never document text
    assert plan.count("HashAggregate") >= 2
    assert "text" not in plan.split("Exchange")[1][:300]


def test_minhash_band_join_carries_slim_rows(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    # the band self-join's two inputs must project only (doc_id, band_key) —
    # the shingle arrays (heavy payload) join back later, onto candidates
    # only.  (At test SF the join is broadcast; at scale it shuffles — either
    # way the input projection is what bounds the exchanged bytes.)
    band_inputs = [
        seg[:120]
        for seg in plan.split("InMemoryTableScan [")[1:]
        if "band_key" in seg[:120]
    ]
    assert band_inputs, "band join should read the persisted banded table"
    for seg in band_inputs:
        assert "shingles" not in seg and "sh_a" not in seg and "sh_b" not in seg
    # the signature pipeline is persisted, not recomputed per join side
    assert "InMemoryRelation" in plan


def test_simhash_join_is_banded_equi_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_simhash")
    # candidate generation must be an equi-join on band_key — never a
    # cartesian/BNLJ over doc pairs (the round-1 per-lang all-pairs shape)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan
    # banded signature table computed once, reused on both join sides
    assert "InMemoryRelation" in plan


def test_neardup_pairs_join_is_bucketed_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sim_neardup_pairs")
    # blocking key must be the LSH band bucket, not a fixture label, and the
    # candidate join must be an equi-join on it
    assert "CartesianProduct" not in plan
    # The candidate join must be an EQUI-join on band_key (hash or
    # sort-merge), never a pair-space nested loop.
    import re

    assert re.search(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\w* \[?band_key",
        plan,
    ), "candidate join is not an equi-join on band_key"
    # ppb derivation is lazy (ADVICE r7): the corpus-count aggregate sits
    # in the plan as a 1-row broadcast — the ONLY tolerated nested-loop
    # shape, and only inside the persisted banded build (computed once).
    assert "n_vec" in plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= plan.count("n_vec"), "non-scalar BNLJ in neardup plan"


def test_q6_is_pure_pushed_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    # every predicate reaches the parquet reader (explain truncates the
    # filter list, so assert the visible prefix: all three columns get
    # IsNotNull + the range filters start pushing)
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount),"
        " IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda" in plan
    )
    # only the 4 needed columns are read (shipdate + discount + price + qty)
    read = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read and "l_orderkey" not in read
    # single global aggregate: partial + final
    assert plan.count("HashAggregate") >= 2


def test_q3_broadcasts_selective_dim_and_bounded_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan


def test_heavy_hitters_two_phase_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_heavy_hitters")
    # partial->final count around one exchange, then bounded-heap top-k —
    # never a global sort of the vocabulary
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_shuffle_budgets(spark, sf_dir):
    """Pin each operator's shuffle count — the scale-limiting resource.
    A refactor that silently adds an exchange fails here."""
    from sql2all_spark.plans import shuffle_count

    budgets = {
        "sample_hash_deterministic": 0,  # row-local filter: NO shuffle
        "join_asof_attribution": 2,  # click pre-dedup + per-user window
        "ts_rollup_hierarchy": 3,  # one per rollup level (minute/hour/day)
        "q1_pricing_summary": 2,  # partial->final agg + ordering
    }
    for name, budget in budgets.items():
        df = all_specs()[name].builder(spark, sf_dir)
        got = shuffle_count(df)
        assert got <= budget, f"{name}: {got} shuffles, budget {budget}"


def test_curation_pipeline_single_wide_shuffle(spark, sf_dir):
    """The composed pipeline's dedup groupBy and final stats agg are its
    only exchanges; the sample filter and gate must fuse into scan/join
    stages, and the keeper join must broadcast."""
    plan = _plan(spark, sf_dir, "pipeline_curation")
    assert plan.count("BroadcastHashJoin") >= 1
    from sql2all_spark.plans import shuffle_count

    df = all_specs()["pipeline_curation"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 2


def test_ann_indexed_scan_partition_prunes(spark, sf_dir):
    """The stored-LSH-index query must read ONLY the query vector's
    bucket=<sig> partition: the scan carries a PartitionFilters entry on
    the bucket column, and the file count actually read is a fraction of
    the index's partition directories (pruning happened at planning time,
    not as a post-scan filter)."""
    import glob
    import re

    from sql2all_spark.operators.similarity import ann_index_root
    from sql2all_spark.plans import physical_plan

    # build ONCE: each build rewrites the index dir (overwrite), which
    # invalidates any earlier DataFrame's cached file listing
    df = all_specs()["sim_lsh_ann_indexed"].builder(spark, sf_dir)
    plan = physical_plan(df)
    # static partition pruning on the bucket partition column
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "bucket" in m.group(1) and "=" in m.group(1), m.group(1)
    # the index has many bucket dirs; the query touches exactly one
    buckets = glob.glob(f"{ann_index_root()}/*/bucket=*")
    assert len(buckets) > 10  # 64 possible signatures, most non-empty
    rows = df.collect()
    assert len(rows) > 0
    assert len({r.bucket for r in rows}) == 1


def test_bm25_bounded_topk_and_broadcast_stats(spark, sf_dir):
    """BM25's scale shape: term document-frequencies and corpus stats
    arrive via broadcast (never a shuffle), and the final top-k is a
    bounded heap, not a global sort."""
    plan = _plan(spark, sf_dir, "text_bm25_retrieval")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 1  # df(t) stats join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tfidf_df_join_has_no_forced_broadcast(spark, sf_dir):
    """text_tfidf_topterms (VERDICT r14 weak mark): df(token) is
    vocabulary-sized — by Heaps' law 1e8-1e9 distinct tokens at 100 TB —
    so the df join must NOT carry a broadcast hint.  The only hint in the
    analyzed plan is the 1-row corpus-stats cross join; the df join is
    size-gated (auto-broadcasts at toy SFs, shuffle join at scale).
    Unlike BM25 (which filters to the 3 query terms BEFORE df, so its
    broadcast is bounded), TF-IDF keeps every token."""
    df = all_specs()["text_tfidf_topterms"].builder(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed
    # the surviving hint is the 1-row corpus aggregate, not the df table
    import re

    hint_ctx = analyzed[analyzed.index("ResolvedHint"):]
    assert re.search(r"\bn_docs\b", hint_ctx[:600]), hint_ctx[:600]


import pytest


@pytest.fixture(scope="module")
def refreshed_index(spark, sf_dir):
    """A base ANN index (3/4 of the embeddings) with the remaining quarter
    appended via refresh_ann_index, plus file snapshots taken before and
    after the refresh.  Shared by the append-audit and compaction tests so
    each runs standalone (no inter-test ordering or leftover /tmp state)."""
    import glob
    import os
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from sql2all_spark.operators.similarity import (
        build_ann_index,
        refresh_ann_index,
    )
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 3)
    batch = e.filter(F.col("vec_id") % 4 == 3)
    path = build_ann_index(spark, sf_dir, source=base, suffix="_refreshtest")

    def snapshot() -> dict[str, int]:
        return {
            p: os.path.getsize(p)
            for p in glob.glob(f"{path}/bucket=*/*.parquet")
        }

    before = snapshot()
    refresh_ann_index(path, batch)
    after = snapshot()
    return SimpleNamespace(path=path, batch=batch, before=before, after=after)


def test_ann_index_refresh_appends_without_rewrites(spark, sf_dir, refreshed_index):
    """refresh_ann_index must be O(batch): every file present before the
    refresh is still there (same name, same size) after it, and new files
    appear ONLY under bucket=<sig> directories the batch actually hashes
    into — no read-modify-write of the existing corpus."""
    from sql2all_spark.operators.similarity import (
        ANN_INDEX_SCHEMA,
        _signature_frame,
        build_ann_index,
    )

    before, after = refreshed_index.before, refreshed_index.after
    # pre-existing files untouched byte-for-byte (name + size)
    assert before.items() <= after.items()
    # new files land only in buckets the batch hashes into
    batch_buckets = {
        r.bucket
        for r in _signature_frame(refreshed_index.batch)
        .select("bucket")
        .distinct()
        .collect()
    }
    new_buckets = {
        p.split("bucket=")[1].split("/")[0] for p in set(after) - set(before)
    }
    assert new_buckets and new_buckets <= batch_buckets
    # and the merged index equals a from-scratch build, row for row
    full = build_ann_index(spark, sf_dir, suffix="_refreshtest_full")
    merged = spark.read.schema(ANN_INDEX_SCHEMA).parquet(refreshed_index.path)
    rebuilt = spark.read.schema(ANN_INDEX_SCHEMA).parquet(full)
    assert merged.count() == rebuilt.count()
    assert merged.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(merged).count() == 0


def test_incremental_screen_broadcasts_batch_bands(spark, sf_dir):
    """dedup_incremental_screen's 100 TB shape: the batch's band keys reach
    the corpus via a broadcast hash join (never a shuffled self-join or a
    cartesian), and candidate generation is an equi-join on band_key."""
    plan = _plan(spark, sf_dir, "dedup_incremental_screen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan
    assert "BroadcastHashJoin" in plan
    # shingled docs computed once, reused by batch/corpus/verify consumers
    assert "InMemoryRelation" in plan


def test_refresh_index_compaction_loop(spark, sf_dir, refreshed_index):
    """The operational loop the refresh docstring promises: an appended
    index accumulates small files per bucket; plan_compaction over the REAL
    file listing produces a manifest that covers every file exactly once,
    with every multi-file group under the target size."""
    import glob
    import os

    from sql2all_spark.operators.incremental import plan_compaction

    paths = glob.glob(f"{refreshed_index.path}/bucket=*/*.parquet")
    assert paths
    listing = spark.createDataFrame(
        [
            (p.split("bucket=")[1].split("/")[0], p, os.path.getsize(p))
            for p in paths
        ],
        "bucket string, file_id string, size_bytes long",
    )
    target = 64 * 1024
    plan = plan_compaction(listing, "bucket", target_bytes=target).collect()
    # every file is covered exactly once
    assert sum(r.n_files for r in plan) == len(paths)
    # running-size binning bound: a group exceeds the target only by at
    # most its last member (first-fit approximation), so any group with
    # group_bytes > target + max_file is a binning bug
    max_file = max(os.path.getsize(p) for p in paths)
    assert all(r.group_bytes <= target + max_file for r in plan)
    # the appended batch produced multi-file buckets → compaction has work
    assert any(r.n_files > 1 for r in plan)


def test_temperature_mix_single_corpus_agg_then_broadcast(spark, sf_dir):
    """sample_temperature_mix's scale shape: ONE partial-agg pass over the
    corpus produces the per-lang counts (persisted — tot and rates share
    it instead of re-scanning), the derived rate table arrives at the
    corpus via broadcast, and the membership filter is row-local."""
    plan = _plan(spark, sf_dir, "sample_temperature_mix")
    assert "BroadcastHashJoin" in plan  # rates onto the corpus
    # the count table is pinned and BOTH consumers (weights, totals) read
    # the cache, not a recomputed corpus scan (explain prints the cached
    # build plan under each InMemoryTableScan, so count consumers, not
    # FileScan occurrences)
    assert plan.count("InMemoryTableScan") >= 2
    from sql2all_spark.plans import shuffle_count

    df = all_specs()["sample_temperature_mix"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 2  # per-lang count agg + 1-row totals agg


def test_unigram_lm_bounded_vocab_broadcast(spark, sf_dir):
    """text_unigram_lm_score's scale shape: the vocabulary is an exact
    top-V via TakeOrderedAndProject (bounded heap — never a global sort of
    the distinct-token set), arrives at the token stream via broadcast
    (bounded at V rows no matter the corpus size), and every exchange
    carries slim token/count or doc_id/score rows — raw text never
    shuffles."""
    plan = _plan(spark, sf_dir, "text_unigram_lm_score")
    assert "TakeOrderedAndProject(limit=4096" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial->final doc agg
    # token counts computed once and pinned (vocab + total share them)
    assert "InMemoryRelation" in plan
    # Only HASH (placement-deciding) exchanges must be slim: the r16
    # spread_fanout round-robin moves the scan's rows once right after
    # the read (§2.5 narrow-fixture parallelism fix, structural no-op on
    # multi-split layouts) and legitimately carries text.
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert "text#" not in seg[:200]


def test_dup_ngram_spans_inverted_index_slim_shuffles(spark, sf_dir):
    """text_dup_ngram_spans' scale shape: candidate generation is the
    inverted-index pattern (equi-join on the gram hash — never a
    cartesian/BNLJ over documents), the (doc_id, pos, h) gram table is
    persisted and reused on both join sides, and only slim rows cross the
    exchanges — the token arrays and raw text stay in the scan stage."""
    plan = _plan(spark, sf_dir, "text_dup_ngram_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryRelation" in plan
    # Only HASH (placement-deciding) exchanges must be slim: the r16
    # spread_fanout round-robin moves the scan's rows once right after
    # the read (§2.5 narrow-fixture parallelism fix, structural no-op on
    # multi-split layouts) and legitimately carries text.
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:200]
        assert "text#" not in head and "w#" not in head


def test_ngram_novelty_no_gram_join_back_no_expand(spark, sf_dir):
    """text_ngram_novelty's scale shape: uniqueness is the min/max-doc
    partial agg over the persisted gram table with NO join back to it
    (novel counts re-group by the surviving MIN(doc_id)), there is no
    distinct-count Expand, and only slim (doc_id, hash) rows cross the
    exchanges — text and token arrays stay in the scan stage."""
    plan = _plan(spark, sf_dir, "text_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Expand" not in plan  # DISTINCT is partial-agg, not expand
    assert "InMemoryRelation" in plan  # gram table computed once
    # hash exchanges only — the round-robin spread of the narrow scan is
    # exempt (see test_dup_ngram_spans_inverted_index_slim_shuffles).
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:200]
        assert "text#" not in head and "w#" not in head


def test_sp_unigram_em_single_corpus_scan_arrow_estep_bounded_topk(
    spark, sf_dir
):
    """text_sp_unigram_em's scale shape: the corpus is scanned once for
    word counts (text column pruned at the scan, never shuffled), the
    Viterbi E-step is Arrow-batched (ArrowEvalPython, not row-at-a-time
    BatchEvalPython) over the persisted distinct-word table, the
    seed-cost join broadcasts the bounded vocab, and the final top-K is
    a bounded heap."""
    plan = _plan(spark, sf_dir, "text_sp_unigram_em")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject(limit=50" in plan
    assert "InMemoryRelation" in plan  # word counts computed once
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # only the broadcast vc join
    # Only HASH (placement-deciding) exchanges must be slim: the r16
    # spread_fanout round-robin moves the scan's rows once right after
    # the read (§2.5 narrow-fixture parallelism fix, structural no-op on
    # multi-split layouts) and legitimately carries text.
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert "text#" not in seg[:200]


def test_tpch_q5_region_prunes_before_facts(spark, sf_dir):
    """tpch_q5's scale shape: the region restriction reaches the parquet
    scans (region pushed, and nation/supplier shrink via broadcast joins
    BEFORE touching lineitem), dims arrive by broadcast, and the revenue
    aggregate is partial->final."""
    plan = _plan(spark, sf_dir, "tpch_q5_local_supplier_volume")
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # date window pushed
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("HashAggregate") >= 2


def test_tpch_q7_nation_filter_prunes_both_dims(spark, sf_dir):
    """tpch_q7's scale shape: the two-nation restriction pre-prunes BOTH
    the supplier and customer sides before the fact join (nation scans
    carry the pushed In filter), the shipdate window reaches the lineitem
    scan, and no join needs a cartesian/BNLJ despite the disjunctive
    cross-pair condition (it is a post-join filter on broadcast outputs)."""
    plan = _plan(spark, sf_dir, "tpch_q7_volume_shipping")
    assert plan.count("In(n_name, [NATION_11,NATION_12])") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q19_pushes_disjunction_envelopes(spark, sf_dir):
    """tpch_q19's scale shape: the OR-of-ANDs predicate cannot push as-is,
    so the query writes its derivable envelopes explicitly — the quantity
    range reaches the lineitem scan and the brand/size union reaches the
    part scan — leaving only the per-arm residual above the broadcast
    join."""
    plan = _plan(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    li_scans = [s for s in plan.split("PushedFilters: ")[1:] if "l_quantity" in s[:300]]
    assert li_scans, "quantity envelope must reach the lineitem scan"
    part_scans = [s for s in plan.split("PushedFilters: ")[1:] if "p_brand" in s[:300]]
    assert part_scans, "brand/size union must reach the part scan"
    assert "BroadcastHashJoin" in plan


def test_cms_sketch_shuffles_cells_not_tokens(spark, sf_dir):
    """agg_cms_heavy_hitters' scale shape: the sketch build's exchange
    partitions on (hash row, bucket) — a bounded d*w cell grid — with
    map-side partial aggregation doing the heavy counting; the exact-count
    side (verification only) is the standard two-phase bounded top-k; the
    probe join broadcasts the tiny cell grid."""
    plan = _plan(spark, sf_dir, "agg_cms_heavy_hitters")
    assert "hashpartitioning(i#" in plan  # cells keyed by (i, bucket)
    assert plan.count("HashAggregate") >= 4  # partial->final on both sides
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_zorder_single_slim_shuffle_after_broadcast_domain(spark, sf_dir):
    """layout_zorder_cluster's scale shape: the domain bounds are a 1-row
    aggregate joined by broadcast (never a shuffle), the Morton key is
    row-local integer arithmetic inside codegen, and the only exchange
    partitions on the 256-value zcluster key with map-side partial
    aggregation."""
    plan = _plan(spark, sf_dir, "layout_zorder_cluster")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row domain agg broadcast
    assert "hashpartitioning(zcluster#" in plan
    assert plan.count("HashAggregate") >= 2
    # orders' payload columns are pruned at the scan
    assert "o_totalprice" not in plan.split("ReadSchema")[-1][:400]


def test_embed_contamination_probe_broadcasts_corpus_streams(spark, sf_dir):
    """sim_embed_contamination's scale shape: candidate generation joins
    the corpus band keys against BROADCAST probe bands (the asymmetric
    text_contamination_check design in cosine space) — never a cartesian
    or a corpus shuffle; exact verification joins probe vectors by
    broadcast onto candidates only."""
    plan = _plan(spark, sf_dir, "sim_embed_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_tpch_q13_preaggregates_orders_before_outer_join(spark, sf_dir):
    """tpch_q13's scale shape: orders collapse to slim (custkey, count)
    rows via partial->final aggregation BEFORE the outer join, the
    priority exclusion reaches the orders scan, and order payload columns
    are pruned (only custkey/priority read)."""
    plan = _plan(spark, sf_dir, "tpch_q13_customer_distribution")
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    assert plan.count("HashAggregate") >= 4  # per-cust and distribution aggs
    assert "o_totalprice" not in plan
    # the outer join is keyed on the custkey, never a nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_single_lineitem_scan_and_broadcast_max(spark, sf_dir):
    """tpch_q15's scale shape: lineitem is scanned ONCE — the slim
    (suppkey, revenue) agg is persisted, so BOTH the max branch and the
    join branch read the cache (2 InMemoryTableScans) instead of
    re-deriving the lineage; the ship-date window reaches the scan, and
    supplier arrives by broadcast."""
    plan = _plan(spark, sf_dir, "tpch_q15_top_supplier")
    assert plan.count("InMemoryTableScan") == 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_window_replaces_self_join(spark, sf_dir):
    """tpch_q17's scale shape: the per-part average-quantity limit is a
    WINDOW over the brand-filtered join — lineitem is scanned once and
    shuffles once (on l_partkey), instead of the spec's two-scan
    correlated self-join; part pre-filters on the brand and
    broadcasts."""
    plan = _plan(spark, sf_dir, "tpch_q17_small_quantity_revenue")
    assert plan.count("lineitem.parquet") == 1
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q22_broadcast_scalar_and_anti_join(spark, sf_dir):
    """tpch_q22's scale shape: the positive-balance average is a 1-row
    broadcast (BNLJ against a single aggregate row, never a collect),
    the date cutoff reaches the orders scan, and the dormancy check is a
    keyed LeftAnti with only custkeys crossing the exchange."""
    plan = _plan(spark, sf_dir, "tpch_q22_dormant_customers")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row avg broadcast
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_pmi_bigrams_are_row_local_no_self_join(spark, sf_dir):
    """text_pmi_collocations' scale shape: bigrams generate row-local from
    the token array (no positional self-join), the exchanges carry only
    slim token/pair count rows, corpus totals arrive via a 1-row
    broadcast, and the final ranking is a bounded-heap top-k."""
    plan = _plan(spark, sf_dir, "text_pmi_collocations")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals
    assert plan.count("HashAggregate") >= 4  # partial->final for uni and bi


def test_winnow_fingerprint_zero_keyed_shuffle_before_distinct(spark, sf_dir):
    """text_winnow_fingerprint's scale shape: gram hashing and the
    per-window rightmost-argmin fold are row-local higher-order functions
    — the ONLY exchange in the plan is the final distinct on slim
    (doc_id, pos, hash) rows; no join of any kind exists."""
    plan = _plan(spark, sf_dir, "text_winnow_fingerprint")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_filter_words_broadcast_to_probes(spark, sf_dir):
    """agg_bloom_filter_probe's scale shape: the bitmap aggregates to
    <= BF_WORDS bit_or words (partial->final, commutative OR) and
    BROADCASTS to the probe side — probes never shuffle for the
    membership test; the only keyed exchanges carry slim (key, verdict)
    rows."""
    plan = _plan(spark, sf_dir, "agg_bloom_filter_probe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # bitmap build: partial->final bit_or around one exchange
    assert "bit_or" in plan
    assert plan.count("HashAggregate") >= 4


def test_grouped_ann_broadcasts_query_batch(spark, sf_dir):
    """sim_grouped_ann's scale shape: the query batch broadcasts
    end-to-end (banded keys for candidates, vectors for scoring) — corpus
    embeddings never shuffle for candidate generation, never a cartesian;
    the per-query top-k runs as a window over bucket-bounded candidates."""
    plan = _plan(spark, sf_dir, "sim_grouped_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" in plan


def test_bpe_merge_vocab_first_then_alphabet_cells(spark, sf_dir):
    """text_bpe_merge_mine's scale shape: tokens collapse to the distinct
    word vocabulary first and pairs aggregate to alphabet-squared cells —
    both partial->final around their exchanges; ranking is a bounded heap
    (TakeOrderedAndProject), never a global sort; only the text column is
    read from the documents scan."""
    plan = _plan(spark, sf_dir, "text_bpe_merge_mine")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # word count + pair sum, 2 phases
    assert "Join" not in plan
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "doc_id" not in read


def test_length_buckets_no_global_window(spark, sf_dir):
    """text_length_buckets' scale shape: bucket boundaries come from ONE
    percentile aggregate broadcast as 7 doubles; assignment is row-local
    and stats aggregate partial->final — never a corpus-wide NTILE window
    (which would serialize the corpus through a single task)."""
    from sql2all_spark.plans import shuffle_count

    plan = _plan(spark, sf_dir, "text_length_buckets")
    assert "Window" not in plan
    assert "percentile" in plan
    assert "CartesianProduct" not in plan
    df = all_specs()["text_length_buckets"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 4


def test_reservoir_rowlocal_keys_single_group_window(spark, sf_dir):
    """sample_reservoir_weighted's scale shape: keying (hash + ln) is
    row-local — no join anywhere — and the only exchanges are the
    per-group window partition and the final presentation sort."""
    from sql2all_spark.plans import shuffle_count

    plan = _plan(spark, sf_dir, "sample_reservoir_weighted")
    assert "Join" not in plan
    assert "Window" in plan
    df = all_specs()["sample_reservoir_weighted"].builder(spark, sf_dir)
    assert shuffle_count(df) <= 2


def test_contamination_token_hash_materialized_once(spark, sf_dir):
    """text_contamination_check's packed-gram rewrite has two quadratic
    failure modes this test pins closed:
    - CollapseProject inlining the token-hash array into every element_at
      (md5 array re-derived per gram position — O(words²) per doc);
    - a Generate in a separate select re-evaluating the heavy projection
      per OUTPUT element (measured 46s vs 0.96s at sf0.1).
    Both blow up the count of md5-bearing expressions in the optimized
    plan (healthy: one token-hash transform per join side; observed 18+
    when inlined)."""
    df = all_specs()["text_contamination_check"].builder(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("md5") <= 4, f"md5 duplicated {opt.count('md5')}x"
    # broadcast stays on the tiny eval-probe side
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_subtree_is_exchange_free(spark, sf_dir):
    """layout_bucketed_join's whole point: both facts are written bucketed
    on the join key, so the join subtree needs NO Exchange — bucket i
    reads against bucket i (``Bucketed: true`` scans feeding the SMJ).
    This is the property that survives a 1000-executor scale-up."""
    from sql2all_spark.operators.bucketing import bucketed_join_frame

    j = bucketed_join_frame(spark, sf_dir)
    plan = physical_plan(j)
    assert plan.count("Exchange") == 0, plan
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    # both scans prune to the slim projections that were written
    assert "l_comment" not in plan and "o_totalprice" not in plan


def test_boilerplate_chunks_hash_keyed_df_join(spark, sf_dir):
    """text_boilerplate_chunks' scale shape: the document-frequency
    aggregate and the flag join key on the 60-bit chunk HASH (int64), so
    chunk strings never cross an exchange; both aggregates run
    partial→final (map-side combine)."""
    df = all_specs()["text_boilerplate_chunks"].builder(spark, sf_dir)
    plan = physical_plan(df)
    # DF agg + per-doc agg, each partial+final
    assert plan.count("HashAggregate") >= 4
    # the join is a plain equi-join on the hash key, never a cartesian
    assert "CartesianProduct" not in plan
    # chunk text is projected away before every exchange: no md5/array_join
    # expression appears in any Exchange's child output columns
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert seg[:40].startswith(("k#", "doc_id#")), seg[:80]


def test_source_overlap_no_corpus_self_join(spark, sf_dir):
    """dedup_source_overlap collapses to distinct (hash, source) pairs and
    expands pairs row-local from a bounded per-key source set — the plan
    must contain NO join at all (the oracle's self-join is the shape this
    op exists to avoid)."""
    df = all_specs()["dedup_source_overlap"].builder(spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Generate explode" in plan  # row-local pair expansion


def test_epoch_plan_slim_aggs_and_broadcast_totals(spark, sf_dir):
    """sample_epoch_plan: one partial-agg exchange to n_sources rows, the
    1-row grand total arrives via broadcast (never a shuffle join), and
    all allocation math is row-local integer arithmetic."""
    df = all_specs()["sample_epoch_plan"].builder(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_vocab_coverage_bounded_heap_and_slim_aggs(spark, sf_dir):
    """text_vocab_coverage: the top-V cut must be a bounded heap
    (TakeOrderedAndProject), never a global Sort of the vocabulary; the
    word-count aggregate runs partial→final; the grand total joins by
    broadcast."""
    df = all_specs()["text_vocab_coverage"].builder(spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_keeper_select_struct_argmax_no_window(spark, sf_dir):
    """dedup_keeper_select's keeper choice must be the partial-aggregatable
    struct MAX, not a per-cluster window (a window would re-shuffle and
    sort every cluster's rows; the struct max combines map-side)."""
    df = all_specs()["dedup_keeper_select"].builder(spark, sf_dir)
    plan = physical_plan(df)
    # partial+final aggregate on the (n_tokens, -doc_id) struct
    assert "partial_max(struct(" in plan
    # exactly ONE Window, and it's inherited from dedup_clusters'
    # cluster_size computation — the keeper policy itself adds none
    assert plan.count("Window [") <= 1


def test_hard_negatives_broadcast_anchor_batch(spark, sf_dir):
    """sim_hard_negatives: the anchor batch must broadcast for BOTH the
    band-key candidate join and the scoring join (corpus embeddings never
    shuffle), and the label exclusion must run before scoring (the
    filter sits under the candidate join, not after the cosine)."""
    df = all_specs()["sim_hard_negatives"].builder(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # per-anchor bounded top-k via window on the candidate set
    assert "Window" in plan


def test_trigram_lm_models_broadcast_and_bounded(spark, sf_dir):
    """text_trigram_lm_score scale shape: all three model tables reach the
    scoring pass as BROADCASTS (the corpus token stream never shuffles for
    a model join), each bounded by a TakeOrderedAndProject heap, and
    n-grams generate row-local (no positional self-join → no
    CartesianProduct)."""
    plan = _plan(spark, sf_dir, "text_trigram_lm_score")
    assert "CartesianProduct" not in plan
    # tri + bi + uni model joins, plus the 1-row total: >= 3 broadcast
    # hash joins (the scalar total rides a BNLJ, the accepted pattern)
    assert plan.count("BroadcastHashJoin") >= 3
    # bounded model-cell selection: vocab / bigram / trigram heaps
    assert plan.count("TakeOrderedAndProject") >= 3
    # the (token, count) and (w2, w3, c23) model-count tables persist
    # once and feed both their consumers (scored cells + context counts)
    assert "InMemoryRelation" in plan


def test_lm_plan_construction_is_job_free(spark, sf_dir):
    """Building the LM-score plans must run NO Spark job (ADVICE r8): the
    corpus totals attach as lazy 1-row broadcast aggregates, not eager
    collects — plan-only consumers (explain, registration sweeps) pay
    nothing.  sim_neardup_pairs got the same fix in r8; pin all three."""
    from sql2all_spark.tables import load_table

    # first touch of a table infers its schema (one footer job, cached);
    # warm that up so the assertion isolates BUILDER-caused jobs
    for t in ("documents", "embeddings"):
        load_table(spark, sf_dir, t)
    st = spark.sparkContext.statusTracker()
    for name in (
        "text_unigram_lm_score",
        "text_bigram_lm_score",
        "text_trigram_lm_score",
        "sim_neardup_pairs",
    ):
        before = set(st.getJobIdsForGroup())
        all_specs()[name].builder(spark, sf_dir)
        after = set(st.getJobIdsForGroup())
        assert after == before, f"{name} plan construction ran jobs: {sorted(after - before)}"


def test_semantic_dedup_candidates_are_banded_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_semantic")
    # candidate generation must be an equi-join on band_key — never a
    # cartesian over vector pairs.  (The 1-row count and 8-row centroid
    # broadcasts ARE nested-loop joins with single-row/tiny builds —
    # the accepted lazy-scalar pattern — so assert no CartesianProduct
    # rather than no BNLJ.)
    assert "CartesianProduct" not in plan
    assert "band_key" in plan
    # vectors persist once, reused by assignment + both hydration sides
    assert "InMemoryRelation" in plan


def test_phash_neardup_join_is_banded_equi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mm_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_key" in plan
    # the pandas-UDF signature extraction runs ONCE (persisted), not per
    # join side
    assert "InMemoryRelation" in plan
    assert plan.count("ArrowEvalPython") <= 1 or plan.count("MapInPandas") <= 1


def test_containment_shingles_are_ints_and_partial_aggregated(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_containment")
    assert "CartesianProduct" not in plan
    # intersection counts partial-aggregate (map-side combine before the
    # exchange), and the pair join feeds from the persisted capped index
    assert plan.count("HashAggregate") >= 2
    assert "InMemoryRelation" in plan
    # document text never reaches the candidate join: the persisted
    # inverted index carries only (doc_id, h)
    idx_scans = [
        seg[:120]
        for seg in plan.split("InMemoryTableScan [")[1:]
    ]
    assert idx_scans
    for seg in idx_scans:
        assert "text" not in seg
    # r10: na rides along the candidate join (window on the persisted
    # index), so the pair aggregate is the plan ROOT side — no
    # post-aggregation hydration join re-exchanging the pair table
    # (VERDICT r9's flagged constant factor).  In the root-first plan
    # text the aggregate must appear ABOVE every join.
    main = plan.split("InMemoryRelation")[0]
    assert "HashAggregate" in main and "Join" in main
    assert main.index("HashAggregate") < main.index("Join")


def test_sessionize_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ts_sessionize")
    # both window passes and the rollup reuse ONE hash exchange on
    # user_id; the only other exchange is the final presentation sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan.split("Exchange hashpartitioning")[1][:80]


def test_bpe_encode_merge_table_is_bounded_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_bpe_encode")
    # merge ranking is a bounded heap, never a global sort of the pair
    # vocabulary
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_range_search_single_scan_no_corpus_shuffle(spark, sf_dir):
    """Radius search must be one corpus scan with the probe batch
    broadcast: no shuffle may touch the corpus (the only exchange is the
    presentation sort of the small result), and the probe-set filter is
    pushed to the parquet scan."""
    plan = _plan(spark, sf_dir, "sim_range_search")
    assert "LessThan(vec_id,10)" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "CartesianProduct" not in plan


def test_retention_two_slim_exchanges(spark, sf_dir):
    """The retention matrix needs exactly the user_id aggs + cell agg
    exchanges; cohort sizes must arrive via broadcast, never a shuffle
    join."""
    plan = _plan(spark, sf_dir, "ts_retention_cohorts")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final on both aggs


def test_exact_substring_dedup_is_chained_inverted_index(spark, sf_dir):
    """Suffix-array-style dedup must be the inverted-index + diagonal-
    chain shape: no all-pairs join, gram table persisted (df-count and
    self-join share it), grams hashed to ints before any exchange, and
    the span groupBy reuses the chain window's (doc_a, doc_b, diag)
    exchange instead of adding its own."""
    import re

    plan = _plan(spark, sf_dir, "text_exact_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryRelation" in plan
    # exactly ONE exchange mentions the diagonal key: window + groupBy
    # share it (group keys are a superset of the window partition keys)
    diag_exchanges = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "diag" in m.group(1)
    ]
    assert len(diag_exchanges) == 1, diag_exchanges
    # raw text never reaches the persisted gram index
    for seg in plan.split("InMemoryTableScan [")[1:]:
        assert "text" not in seg[:120]


def test_bpe_train_mine_round_is_vocab_agg_with_bounded_argmax(spark, sf_dir):
    """One training round's mining plan: row-local pair explode over the
    vocab, partial->final aggregation, and a 1-row bounded heap — never
    a global sort or positional self-join."""
    from sql2all_spark.operators.bpe_train import _initial_vocab, _mine_best
    from sql2all_spark.plans import physical_plan

    plan = physical_plan(_mine_best(_initial_vocab(spark, sf_dir)))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_pq_adc_is_broadcast_joined_bounded_topk(spark, sf_dir):
    """PQ/ADC shape: codebooks and the ADC table reach every stage as
    broadcasts (the M×K tables must never shuffle the corpus side), the
    subvector table is persisted once and reused (refine / encode /
    probe), and the ranking is a bounded heap, not a global sort."""
    plan = _plan(spark, sf_dir, "sim_pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # codebook/ADC joins are broadcast-hash (cb0, cb1, adctab, labels)
    assert plan.count("BroadcastHashJoin") >= 3
    # (vec_id, m, sv) persisted once, reused by all three consumers
    assert "InMemoryRelation" in plan


def test_multiprobe_is_bucket_equi_join_no_corpus_shuffle(spark, sf_dir):
    """Multi-probe ANN shape: the probe×bucket expansion reaches the index
    as a broadcast (bucket equi-join — never a cross join), and the only
    exchange above the index scan carries candidates keyed by probe for
    the ranking window (hashpartitioning on probe_id), not the corpus."""
    plan = _plan(spark, sf_dir, "sim_ann_multiprobe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "bucket" in plan
    # exchanges: candidate ranking on probe_id only — no exchange keyed
    # on the corpus row identity
    import re

    for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan):
        assert m.group(1).startswith("probe_id"), m.group(0)


def test_importance_resample_fuses_signals_single_join_bounded_topk(spark, sf_dir):
    """DSIR composite: all row-local signals (gate/repetition/stopword/
    language) CARRY through the LM scorer's per-doc aggregation (r13
    rewrite) — no doc_id join at all, exactly one per-doc exchange, and
    the signal expressions evaluate BELOW the token explode (once per
    doc, not once per token).  A regression to per-signal builder joins
    would add scans and doc_id exchanges."""
    import re

    plan = _plan(spark, sf_dir, "text_importance_resample")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # join-free: the sig-join-lm shape is gone; only the broadcast vocab
    # join and the 1-row corpus-total scalar broadcasts remain
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan parquet") <= 4
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # exactly ONE per-doc exchange (the fused agg) — the old shape had two
    doc_exchanges = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        if "doc_id" in m.group(1)
    ]
    assert len(doc_exchanges) == 1, doc_exchanges
    # carry expressions evaluate below the explode: the fused Generate
    # passes through the ALREADY-EVALUATED signal attributes
    gen = next(s for s in plan.split("Generate explode(")[1:] if "_ulm_toks" in s[:40])
    assert "repetition#" in gen[:200], gen[:200]
    # sorts above the heap may only touch the K-row result (presentation
    # rank order) — never the corpus
    above_heap = plan.split("TakeOrderedAndProject")[0]
    for m in re.finditer(r"Sort \[(\w+)", above_heap):
        assert m.group(1).startswith(("rank", "key")), m.group(0)


def test_ivfpq_adc_scan_is_cell_pruned(spark, sf_dir):
    """IVF-PQ shape: routing centroids, probe cells, codebooks, ADC table
    and the shortlist all reach the corpus side as BROADCASTS; both
    rankings are bounded heaps; and the candidate set entering ADC is
    cell-pruned — a strict subset of the corpus (nprobe/K of it), never a
    full-corpus ADC pass."""
    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.operators.ivfpq import IVFPQ_PROBE_ID, _route_cells
    from sql2all_spark.tables import load_table

    plan = _plan(spark, sf_dir, "sim_ivfpq_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # cents / probes / cb / adctab / shortlist joins are broadcast-hash
    assert plan.count("BroadcastHashJoin") >= 4
    # subvector + vector frames persisted once, reused across stages
    assert "InMemoryRelation" in plan
    # behavioral pruning check: candidates entering ADC are the probed
    # cells' members only — strictly fewer than the corpus
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", "label", dbl(F.col("embedding")).alias("v"))
    cells, probes = _route_cells(vecs)
    n_cand = (
        cells.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") != IVFPQ_PROBE_ID)
        .count()
    )
    n_corpus = e.count()
    assert 0 < n_cand < 0.6 * n_corpus, (n_cand, n_corpus)


def test_ivf_batch_multiprobe_routes_broadcast_probe_keyed_exchange(
    spark, sf_dir
):
    """Batch IVF shape: the probe-route frame reaches the cell-assigned
    corpus as a broadcast equi-join on cent_id (one job for the whole
    batch — no per-probe collect), and the only exchange above the scan
    carries candidates keyed by probe_id for the bounded per-group heap."""
    import re

    plan = _plan(spark, sf_dir, "sim_ivf_batch_multiprobe")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "cent_id" in plan
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan):
        assert m.group(1).startswith(("probe_id", "vec_id")), m.group(0)
    # WindowGroupLimit / bounded heap for the per-probe top-k
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_pq_train_loop_round_plans_identical(spark, sf_dir):
    """The training loop's per-round physical plan must not grow or morph
    with the round index: the codebook re-enters each round as a literal
    local relation, so every round is the SAME broadcast-assign +
    slim-recompute plan (lineage truncation actually worked)."""
    import re

    from pyspark.sql import functions as F

    from sql2all_spark.functions.embed import dbl
    from sql2all_spark.functions.pqmath import (
        assign_nearest,
        recompute_codebook,
        subvector_frame,
        train_codebook,
    )
    from sql2all_spark.operators.pq import PQ_TRAIN_ROUNDS
    from sql2all_spark.plans import physical_plan
    from sql2all_spark.tables import load_table

    def shape(plan: str) -> list[str]:
        # operator names only, stripped of ids/literals/codegen indices
        ops = re.findall(r"^\s*[+:*-]*\s*\(?\d*\)?\s*([A-Za-z]+[A-Za-z ]*)",
                         plan, re.M)
        return [o.strip() for o in ops if o.strip()]

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", dbl(F.col("embedding")).alias("v"))
    subs = subvector_frame(vecs).persist()
    shapes = [
        shape(physical_plan(
            recompute_codebook(assign_nearest(subs, train_codebook(subs, k)))
        ))
        for k in range(1, PQ_TRAIN_ROUNDS + 1)
    ]
    subs.unpersist()
    # rounds 1..N (all literal-codebook rounds) plan identically
    assert all(s == shapes[0] for s in shapes[1:]), shapes


def test_hybrid_rrf_legs_are_bounded_heaps(spark, sf_dir):
    """Hybrid RRF shape: both legs rank via bounded heaps over single
    corpus scans (TakeOrderedAndProject — never a corpus-wide sort);
    post-shortlist work (rank windows, the full-outer rank join, fusion)
    runs on <= 2×LEG_TOP slim rows; the only nested-loop broadcasts are
    the 1-row query vector and corpus-stats scalar frames."""
    plan = _plan(spark, sf_dir, "sim_hybrid_rrf")
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2  # one per leg
    # scalar/1-row broadcasts only (query vector, corpus stats)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # corpus scans: embeddings ×2 (probe + corpus) + documents ×2 (the
    # persisted dl frame and the tf explode); a regression that re-scans
    # per stage (e.g. dropping bm25's dl persist) would add more.  Count
    # UNIQUE scans — a cached relation's FileScan prints once per
    # InMemoryTableScan consumer.
    import re

    uniq = set(re.findall(r"FileScan parquet \[([^\]]+)\]", plan))
    assert len(uniq) <= 4, sorted(uniq)
    assert "InMemoryRelation" in plan  # the shared dl frame


def test_bitext_candidates_are_banded_equi_not_cartesian(spark, sf_dir):
    """Bitext mining shape: the OR-amplified banding is TWO equi-joins on
    band keys (never a src×tgt nested-loop product — a disjunctive join
    predicate would plan as one), the candidate frame persists once for
    the two side-average passes, and exchanges above the scans carry
    only pair/band keys."""
    plan = _plan(spark, sf_dir, "sim_bitext_margin_mine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryRelation" in plan  # persisted cand reused by ax/ay


def test_residual_ivfpq_adc_is_cell_pruned_and_broadcast(spark, sf_dir):
    """Residual IVF-PQ shape: the per-probed-cell ADC table (nprobe x M x
    K slim rows) and the codebooks reach the candidates as broadcasts;
    the residual transform is row-local after a broadcast centroid join;
    rankings are bounded heaps; no cartesian products."""
    plan = _plan(spark, sf_dir, "sim_ivfpq_residual_topk")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "InMemoryRelation" in plan  # persisted vecs/cells/rsubs


def test_mmr_greedy_loop_runs_no_spark_jobs(spark, sf_dir):
    """The MMR greedy loop is driver-side (VERDICT r11 #5): Spark jobs
    fire only for the two pre-loop shortlist/pair-matrix collects, so
    the builder's job count is INDEPENDENT of the number of picks, and
    the returned frame is a local relation (consuming it re-runs no
    distributed work)."""
    import sql2all_spark.operators.fusion as fusion
    from sql2all_spark.tables import load_table

    for t in ("documents", "embeddings"):
        load_table(spark, sf_dir, t)
    st = spark.sparkContext.statusTracker()
    builder = all_specs()["sim_mmr_diversify"].builder
    builder(spark, sf_dir)  # warm broadcast/caches

    def jobs_for(picks):
        orig = fusion.MMR_PICKS
        fusion.MMR_PICKS = picks
        try:
            before = set(st.getJobIdsForGroup())
            df = builder(spark, sf_dir)
            delta = len(set(st.getJobIdsForGroup()) - before)
        finally:
            fusion.MMR_PICKS = orig
        return delta, df

    d2, _ = jobs_for(2)
    d5, df = jobs_for(5)
    assert d5 == d2, f"job count grew with picks: {d2} -> {d5}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_ivfpq_indexed_scan_partition_prunes_and_is_join_free(spark, sf_dir):
    """The stored-IVFPQ query must read ONLY the probed cells' partitions
    (static PartitionFilters on cent_id — pruning at planning time, like
    the stored-LSH index) and, past the scan, be entirely row-local: the
    ADC is a map-literal fold over the stored code array and the refine
    reuses the stored vector column, so the plan has NO join and NO
    exchange — just two bounded TakeOrderedAndProject heaps."""
    import glob
    import re

    from sql2all_spark.operators.ivfpq import IVFPQ_NPROBE, ivfpq_index_root
    from sql2all_spark.plans import physical_plan

    df = all_specs()["sim_ivfpq_indexed_query"].builder(spark, sf_dir)
    plan = physical_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "cent_id" in m.group(1) and "IN" in m.group(1), m.group(1)
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("TakeOrderedAndProject") == 2
    # the index materialized all 8 cell dirs; the query touched nprobe
    cells = glob.glob(f"{ivfpq_index_root()}/*.parquet/cent_id=*")
    assert len({c.rsplit("=", 1)[1] for c in cells}) == 8
    rows = df.collect()
    assert len(rows) == 10
    assert len({r.cent_id for r in rows}) <= IVFPQ_NPROBE


def test_fuzzy_editdist_join_is_banded_equi_not_cartesian(spark, sf_dir):
    """Ed-Join shape: the candidate generator is an equi-join of the two
    prefix-index sides on the gram value — never a pair-space cartesian
    or nested loop — the prefix index is persisted once and reused on
    both sides, and the levenshtein DP runs with the threshold argument
    (banded, early-exit) rather than the unbounded 2-arg form."""
    plan = _plan(spark, sf_dir, "dedup_fuzzy_editdist")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "gram" in plan
    assert "InMemoryRelation" in plan  # persisted titles + prefix index
    from sql2all_spark.operators.fuzzy import FUZZY_T

    assert f"levenshtein(title_a" in plan and f", {FUZZY_T})" in plan


def test_approx_quantiles_has_no_value_buffering_aggregate(spark, sf_dir):
    """The within-bound verification is a rank conditional-count, not an
    exact percentile(): Spark's exact percentile buffers every distinct
    value per partition (the 100-TB OOM the r12 rewrite removed), while
    the rank check keeps constant per-partition state.  Both aggregates
    (sketch pass + count pass) must be partially aggregated around their
    exchanges, and the estimate row enters the count pass broadcast."""
    plan = _plan(spark, sf_dir, "agg_approx_quantiles")
    assert "percentile(" not in plan  # exact order statistic gone
    assert "percentile_approx" in plan  # the sketch remains
    assert "count_if" in plan or "count(if" in plan.lower()
    assert "BroadcastExchange" in plan  # 1-row estimates onto the scan
    assert plan.count("HashAggregate") >= 4  # partial+final for both passes


def test_quality_filter_scoring_scan_is_join_free_single_exchange(spark, sf_dir):
    """The scoring leg is the cheapest possible corpus pass (VERDICT r12
    #2): literal weights -> one column-pruned scan of the persisted
    feature frame, partial+final aggregate around ONE hash exchange, no
    join anywhere (the only other exchange is the tiny output sort)."""
    plan = _plan(spark, sf_dir, "text_quality_filter")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # the scoring scan reads only (lang, x1..x3) from the cached feats —
    # never text / doc_id / source
    seg = [
        s[:80] for s in plan.split("InMemoryTableScan [")[1:] if "x1" in s[:80]
    ]
    assert seg, "scoring should scan the persisted feature frame"
    assert all("text" not in s and "doc_id" not in s for s in seg), seg
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_source_caps_plan_uses_window_group_limit(spark, sf_dir):
    """The per-source cap compiles to WindowGroupLimit (VERDICT r12 #3):
    a bounded heap on both sides of the source shuffle — never a global
    sort of the scored corpus, never a full per-group sort."""
    plan = _plan(spark, sf_dir, "text_source_quality_caps")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # totals agg + the window's source partitioning — nothing else
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "rn" in plan and "row_number" in plan


def test_domain_label_is_struct_min_over_broadcast_centroids(spark, sf_dir):
    """Assignment is the struct-MIN pattern (VERDICT r12 #5): the corpus
    crosses a BROADCAST k-row centroid table and collapses map-side via
    partial_min(struct(...)) — no row_number window, no cartesian, no
    shuffle of the embeddings before the per-vector combine."""
    plan = _plan(spark, sf_dir, "embed_domain_label")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "row_number" not in plan and "windowspecdefinition" not in plan
    assert "partial_min(struct" in plan  # map-side combine


def test_calibration_is_one_scan_no_join(spark, sf_dir):
    """Fixed-width score bands are a row-local floor-divide, NOT a rank
    NTILE: the profile is one pruned scan + partial/final aggregate with
    no join and no window (a global sort of the corpus would appear here
    if anyone swaps bands for NTILE)."""
    plan = _plan(spark, sf_dir, "text_quality_calibration")
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_domain_mix_weights_struct_min_and_broadcast_total(spark, sf_dir):
    """Mix weights reuse the labeler's broadcast-cross + struct-MIN scan;
    the k-row totals attach as a broadcast, never a shuffle of counts."""
    plan = _plan(spark, sf_dir, "embed_domain_mix_weights")
    assert "row_number" not in plan and "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_min(struct" in plan


def test_template_mining_no_cartesian_slim_exchanges(spark, sf_dir):
    """Template mining never enters pair space (VERDICT r13 #4): the
    edge build is a doc_id-co-partitioned equi self-join of the slim
    (doc_id, pos, hash) hit table, the family stats join on the hash —
    no cartesian / nested-loop join anywhere, and no exchange ever
    carries the text column (only hashes, positions, ids cross)."""
    plan = _plan(spark, sf_dir, "text_template_mining")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every hash exchange is slim: the raw text column never shuffles
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:120]
        assert "text" not in head, head


def test_mix_novelty_struct_min_no_window_slim_join(spark, sf_dir):
    """Novelty-weighted mixing keeps both parents' shapes (VERDICT r13
    #5): the assignment leg is still broadcast-cross + struct-MIN (no
    row_number / window), the novelty leg stays inverted-index, and the
    bridge is ONE per-doc-slim equi-join — no cartesian anywhere and no
    exchange carrying text or embeddings after the scans."""
    plan = _plan(spark, sf_dir, "embed_domain_mix_novelty")
    assert "row_number" not in plan and "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the k-row centroid cross
    assert "partial_min(struct" in plan  # map-side combine
    # the doc-level bridge join is on the id, not a wide payload
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:100]
        assert "text" not in head and "embedding" not in head, head


def test_unigram_score_exchanges_carry_hashes_not_tokens(spark, sf_dir):
    """The token-hash shuffle lever (VERDICT r13 #6): every exchange in
    the unigram-LM scorer carries the 8-byte token hash `th` — the
    variable-length token string never crosses an exchange (it existed
    only inside the scan-side projection), and the vocabulary tiebreak
    runs in the hash domain."""
    plan = _plan(spark, sf_dir, "text_unigram_lm_score")
    for seg in plan.split("Exchange ")[1:]:
        head = seg[:120]
        assert "token" not in head, head
    assert "th" in plan


def test_kn_bigram_single_packed_exchange_broadcast_model(spark, sf_dir):
    """The KN scorer's only corpus-wide shuffle is the packed-bigram
    count exchange (single int64 key); the model tables attach to the
    scoring rows as BROADCAST left-joins, raw text never crosses an
    exchange, and there is no cartesian anywhere."""
    plan = _plan(spark, sf_dir, "text_kn_bigram_score")
    assert "CartesianProduct" not in plan
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:120]
        assert "text" not in head, head
    assert plan.count("BroadcastHashJoin") >= 3  # bscored/ctx_top/cont_top
    # the count exchange is keyed on the packed bigram
    assert "bg" in plan


def test_kn_trigram_single_packed_exchange_broadcast_model(spark, sf_dir):
    """The KN trigram (r15) keeps the bigram scorer's shape one level up:
    the only corpus-wide shuffles are the packed-trigram count exchange
    (single int64 key `tg`) and the slim per-doc aggregation; every
    lower-order statistic is integer arithmetic on the packed key (no
    re-tokenization); the five model tables attach as BROADCAST
    left-joins; raw text never crosses an exchange; no cartesian."""
    plan = _plan(spark, sf_dir, "text_kn_trigram_score")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:120]
        assert "text" not in head and "token" not in head, head
        # every corpus/model exchange keys on the packed key, a derived
        # grouping over it, or the doc id — all 8-byte columns
        assert ("tg#" in head) or ("_groupingexpression" in head) or (
            "doc_id" in head
        ), head
    # tscored/ctx_top/mid_top/midctx_top/cont_top model joins broadcast
    assert plan.count("BroadcastHashJoin") >= 5


def test_template_keeper_no_pair_space_and_struct_min(spark, sf_dir):
    """The keeper policy (r15) inherits the miner's pair-free shape: no
    cartesian, the run-grouping window partitions by (family, doc) —
    single-document-bounded — and the family-level keeper choice is a
    partial-aggregatable struct MIN, not a second window."""
    plan = _plan(spark, sf_dir, "text_template_keeper")
    assert "CartesianProduct" not in plan
    assert "partial_min(struct" in plan  # map-side combinable keeper
    # exactly one window spec: the (family, doc) run grouping
    assert plan.count("windowspecdefinition") == 1
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert "text" not in seg[:100], seg[:100]


def test_domain_quality_profile_slim_bridge_and_no_training_scan(
    spark, sf_dir
):
    """The per-domain profile (r15) composes two green shapes with ONE
    slim doc-id bridge: the classifier side is a join-free row-local
    scoring scan (weights are literals via the session store), the
    domain side is the broadcast-cross + struct-MIN assignment, and no
    exchange carries text or embeddings after the scans."""
    plan = _plan(spark, sf_dir, "embed_domain_quality_profile")
    assert "CartesianProduct" not in plan
    assert "partial_min(struct" in plan  # the assignment struct-MIN
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid cross only
    assert "windowspecdefinition" not in plan
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:100]
        assert "text" not in head and "embedding" not in head, head


def test_tau_caps_two_windows_group_limit_slim_exchanges(spark, sf_dir):
    """The two-policy composition (r16) keeps both parents' shapes: the
    assignment leg is still broadcast-cross + struct-MIN, the per-domain
    median is the one oracle-exactness window, and the source cap's
    rank-filter compiles to WindowGroupLimit (bounded per-source heap,
    the caps-leg pin) — no cartesian, and no exchange carries text or
    embeddings after the scans."""
    plan = _plan(spark, sf_dir, "embed_domain_tau_caps")
    assert "CartesianProduct" not in plan
    assert "partial_min(struct" in plan  # the assignment struct-MIN
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid cross only
    assert "WindowGroupLimit" in plan  # the cap is a bounded heap
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:100]
        assert "text" not in head and "embedding" not in head, head


def test_post_strip_dedup_inherits_strip_shape_fp_exchange(spark, sf_dir):
    """The post-strip dedup (r16) keeps the strip chain's shape (no
    cartesian, struct-MIN keeper, anti-join reassembly) and adds exactly
    dedup_exact's shape on top: the final aggregation exchanges on the
    8-byte cleaned fingerprint, and no exchange ever carries the raw
    text column."""
    plan = _plan(spark, sf_dir, "dedup_post_strip")
    assert "CartesianProduct" not in plan
    assert "partial_min(struct" in plan  # the keeper argmin
    assert "LeftAnti" in plan  # the (doc, pos) strip reassembly
    segs = [s[:120] for s in plan.split("Exchange hashpartitioning(")[1:]]
    assert any("cleaned_fp" in s for s in segs)  # the dedup shuffle key
    for s in segs:
        assert "text#" not in s, s


def test_post_strip_keeper_struct_max_no_group_window(spark, sf_dir):
    """The keeper argmax is a partial-aggregatable struct MAX — the
    dedup_keeper_select precedent: no per-group window anywhere on the
    keeper side (the only windows belong to the strip chain's run
    grouping), no cartesian, and no exchange carries raw text."""
    plan = _plan(spark, sf_dir, "dedup_post_strip_keeper")
    assert "CartesianProduct" not in plan
    assert "partial_max(struct" in plan  # map-side combinable argmax
    for s in plan.split("Exchange hashpartitioning(")[1:]:
        assert "text#" not in s[:120], s[:120]


def test_kn_ccnet_buckets_inherits_scorer_shape_one_lang_window(
    spark, sf_dir
):
    """The KN-CCNet bucketing (r16) composes the KN trigram scorer
    unchanged — packed-key exchanges only, >= 5 broadcast model joins,
    no cartesian — and adds exactly ONE window (the per-lang NTILE
    tercile); the lang join is slim (doc_id, lang), so no exchange
    carries the text column."""
    plan = _plan(spark, sf_dir, "text_kn_ccnet_buckets")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("windowspecdefinition") == 1
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        assert "text#" not in seg[:120], seg[:120]


def test_sp_pack_two_phase_prefix_sum_no_global_corpus_window(
    spark, sf_dir
):
    """The sequence packer (r16) must never run the corpus through a
    single-partition global window: exactly TWO window specs exist —
    the per-bucket cumulative sum PARTITIONED by pid, and the exclusive
    bucket-offset roll over the NPART-row totals frame (the only
    unpartitioned one, bounded at SP_PACK_NPART rows); the offsets
    attach by broadcast; the final aggregation exchanges on the 8-byte
    seq_id; no exchange carries text."""
    plan = _plan(spark, sf_dir, "text_sp_pack_sequences")
    assert "CartesianProduct" not in plan
    assert plan.count("windowspecdefinition") == 2
    # the corpus-sized cumsum window is partitioned: its spec leads with
    # the pid partition column followed by the doc_id ordering
    assert any(
        "pid#" in w[:60] and "doc_id#" in w[:120]
        for w in plan.split("windowspecdefinition(")[1:]
    ), "pid-partitioned cumsum window missing"
    segs = [s[:120] for s in plan.split("Exchange hashpartitioning(")[1:]]
    assert any("seq_id" in s for s in segs)  # final manifest shuffle
    for s in segs:
        assert "text#" not in s, s


def test_pretrain_funnel_composes_parent_shapes(spark, sf_dir):
    """The funnel capstone (r16) keeps every parent shape: the strip
    chain's anti-join reassembly (LeftAnti) and pair-free windows, the
    assignment's broadcast-cross + struct-MIN (the only nested-loop
    join is the k-row centroid cross), the cap's WindowGroupLimit
    bounded heap — and no exchange carries text or embeddings after
    the scans.  Audited through the UNTRUNCATED composition
    (truncate=False): the production builder checkpoints each stage
    boundary (r17 plan-count surgery), which makes the registered
    query's plan a leaf-scan ledger — the composed lineage this test
    pins is the same code path minus the checkpoint calls."""
    from sql2all_spark.operators.funnel import _funnel_frame
    from sql2all_spark.plans import physical_plan

    plan = physical_plan(_funnel_frame(spark, sf_dir, truncate=False))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # strip reassembly
    assert "partial_min(struct" in plan  # assignment struct-MIN
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid cross only
    assert "WindowGroupLimit" in plan  # the source cap bounded heap
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        head = seg[:120]
        assert "text#" not in head and "embedding" not in head, head


def test_pretrain_funnel_production_plan_is_truncated(spark, sf_dir):
    """The registered funnel (r17): every stage boundary is checkpointed,
    so the executed plan is a bounded ledger over leaf relations — the
    composed strip/score/assign chain appears ZERO times (it ran once,
    inside the stage materializations), the cap's WindowGroupLimit
    still guards the s3 count, and the whole plan stays small enough
    that Catalyst planning is no longer the query's dominant cost
    (before: ~0.8 MB composed plan, ~100 exchanges re-planned per
    action; VERDICT r16 #1)."""
    plan = _plan(spark, sf_dir, "pipeline_pretrain_funnel")
    assert "LeftAnti" not in plan  # strip chain truncated at keep1
    assert "partial_min(struct" not in plan  # assignment truncated at dom
    assert "WindowGroupLimit" in plan  # s3 cap computed above the s2 leaf
    assert plan.count("Scan ExistingRDD") >= 3  # checkpointed stage leaves
    assert len(plan) < 300_000, f"funnel plan regrew: {len(plan)} bytes"
