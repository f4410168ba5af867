"""Streaming ≡ batch-twin equivalence (SURVEY.md §5: streaming state tests
compare against batch twins, never wall-clock)."""

from __future__ import annotations

from sql2all_spark.streaming import jobs
from sql2all_spark.streaming.batch_twins import (
    stream_dedup_watermark,
    stream_session_window,
    stream_tumbling_window,
)


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_tumbling_stream_matches_batch_twin(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(jobs.tumbling_counts(stream), output_mode="complete")
    got = spark.table(name)
    want = stream_tumbling_window(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_session_stream_matches_batch_twin(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(jobs.session_values(stream), output_mode="complete")
    got = spark.table(name)
    want = stream_session_window(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_sliding_stream_matches_batch_twin(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(jobs.sliding_counts(stream), output_mode="complete")
    # exact-distinct isn't streamable → compare the exact columns only
    got = spark.table(name).select("window_start", "n_events")
    from sql2all_spark.streaming.batch_twins import stream_sliding_window

    want = stream_sliding_window(spark, sf_dir).select("window_start", "n_events")
    assert _rows(got) == _rows(want)


def test_stateful_operator_matches_batch_aggregate(spark, sf_dir):
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(
        jobs.stateful_user_stats(stream), output_mode="update"
    )
    got = spark.table(name)
    # single input file + availableNow ⇒ one micro-batch ⇒ one row per user
    # carrying the converged totals
    batch = jobs.load_table(spark, sf_dir, "events")
    want = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert _rows(got) == _rows(want)


def test_transform_with_state_matches_batch(spark, sf_dir):
    """transformWithState parity — or, where the environment cannot run it,
    an ASSERTED env-gate (no skip): the driver protocol of
    transformWithStateInPandas speaks protobuf to a state server, so with
    ``google.protobuf`` absent (this container ships none, and there is no
    network to install one — NOTES.md) the query must fail AT START with
    the driver-worker crash, never silently misbehave.  Proving the gate is
    the testable contract here; on a protobuf-equipped deployment the same
    test runs the full stream≡batch parity path."""
    from pyspark.sql import functions as F

    try:
        import google.protobuf.descriptor  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.events_stream(spark, sf_dir)
        if not have_protobuf:
            from pyspark.errors.exceptions.captured import (
                StreamingQueryException,
            )

            try:
                jobs.run_to_memory(
                    jobs.stateful_tws_user_max(stream), output_mode="update"
                )
            except StreamingQueryException as exc:
                # the documented failure: the python state-server driver
                # worker dies before processing any batch
                assert "TransformWithState" in str(exc) or "STREAM_FAILED" in str(
                    exc
                ), f"unexpected failure shape: {exc}"
            else:
                raise AssertionError(
                    "transformWithState ran without protobuf — env-gate is"
                    " stale, restore the full parity assertion"
                )
            return
        name, q = jobs.run_to_memory(
            jobs.stateful_tws_user_max(stream), output_mode="update"
        )
        got = spark.table(name)
        want = jobs.load_table(spark, sf_dir, "events").groupBy("user_id").agg(
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        assert _rows(got) == _rows(want)
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    batch = jobs.load_table(spark, sf_dir, "events")
    profiles = (
        batch.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
    )
    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(
        jobs.enrich_with_static(stream, profiles), output_mode="append"
    )
    got = spark.table(name)
    want = batch.join(profiles, "user_id").select(
        "event_id", "user_id", "ts", "event_type", "value", "first_seen"
    )
    assert _rows(got) == _rows(want)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase")
    clicks = stream.filter(F.col("event_type") == "click")
    name, q = jobs.run_to_memory(
        jobs.stream_stream_attribution(purchases, clicks), output_mode="append"
    )
    got = spark.table(name)
    batch = jobs.load_table(spark, sf_dir, "events")
    bp = batch.filter(F.col("event_type") == "purchase").alias("p")
    bc = batch.filter(F.col("event_type") == "click").alias("c")
    want = bp.join(
        bc,
        F.expr(
            "p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.ts").alias("click_ts"),
        F.col("c.value").alias("click_value"),
    )
    assert _rows(got) == _rows(want)


def test_stream_export_roundtrip(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    stream = jobs.events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "ts", "value")
    out = str(tmp_path / "purchases.parquet")
    q = jobs.stream_export(stream, out, checkpoint=str(tmp_path / "cp"))
    q.awaitTermination(120)
    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    want = (
        jobs.load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    assert _rows(got) == _rows(want)


def test_dedup_stream_matches_batch_twin(spark, sf_dir):
    stream = jobs.events_stream(spark, sf_dir)
    name, q = jobs.run_to_memory(jobs.dedup_stream(stream), output_mode="append")
    got = spark.table(name)
    want = stream_dedup_watermark(spark, sf_dir)
    # single ordered input file + availableNow ⇒ stream keeps exactly the
    # batch twin's first-per-key rows
    assert _rows(got) == _rows(want)


def test_stream_export_checkpoint_idempotent(spark, sf_dir, tmp_path):
    """Restarting a checkpointed stream with no new input must write
    nothing new — the exactly-once batch-level guarantee foreachBatch +
    checkpoint provides (a restart replays offsets, not data)."""
    from pyspark.sql import functions as F

    def run_once():
        stream = jobs.events_stream(spark, sf_dir).filter(
            F.col("event_type") == "signup"
        ).select("event_id", "user_id", "ts")
        q = jobs.stream_export(stream, out, checkpoint=str(tmp_path / "cp"))
        q.awaitTermination(120)

    def read_back():
        return spark.read.option("recursiveFileLookup", "true").parquet(out)

    out = str(tmp_path / "signups.parquet")
    run_once()
    n1 = read_back().count()
    run_once()  # same checkpoint, no new files → no new rows
    n2 = read_back().count()
    assert n1 == n2 > 0


def test_stream_export_batch_replay_idempotent(spark, sf_dir, tmp_path):
    """A batch replayed after a mid-batch failure must not duplicate rows:
    the writer keys each micro-batch to a deterministic batch-<id> directory
    and overwrites it, so re-running the same batch id is a no-op in total
    row count.  Simulated by wiping the checkpoint (forces Spark to replay
    every batch id from scratch) while keeping the output directory."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "replay.parquet")

    def run(cp):
        stream = jobs.events_stream(spark, sf_dir).filter(
            F.col("event_type") == "signup"
        ).select("event_id", "user_id", "ts")
        q = jobs.stream_export(stream, out, checkpoint=cp)
        q.awaitTermination(120)

    run(str(tmp_path / "cp1"))
    n1 = spark.read.option("recursiveFileLookup", "true").parquet(out).count()
    run(str(tmp_path / "cp2"))  # fresh checkpoint: batch ids replay from 0
    n2 = spark.read.option("recursiveFileLookup", "true").parquet(out).count()
    assert n1 == n2 > 0


def test_chunk_stream_pipeline_matches_batch_twin(spark, sf_dir, tmp_path):
    """The full streaming chunk-ingestion pipeline: documents land as a
    file stream, chunk row-locally, export through the batch-keyed
    foreachBatch sink — the end state equals the registered
    text_chunk_windows batch twin exactly."""
    from sql2all_spark.registry import all_specs

    stream = jobs.chunk_stream(jobs.documents_stream(spark, sf_dir))
    out = str(tmp_path / "chunks.parquet")
    q = jobs.stream_export(stream, out, checkpoint=str(tmp_path / "cp"))
    q.awaitTermination(120)
    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    want = all_specs()["text_chunk_windows"].builder(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_screen_stream_matches_batch_operator(spark, sf_dir, tmp_path):
    """Continuous-ingestion screening: new docs land as THREE separate
    files (three micro-batches), each screened against the standing corpus
    — the union of per-batch verdicts must equal the all-at-once
    dedup_incremental_screen batch operator on the same split (each doc's
    verdict depends only on (doc, corpus), so chunking cannot change it)."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.dedup import SCREEN_MOD
    from sql2all_spark.registry import all_specs
    from sql2all_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    new_docs = d.filter(F.col("doc_id") % SCREEN_MOD == 0)
    corpus = d.filter(F.col("doc_id") % SCREEN_MOD != 0)

    landing = str(tmp_path / "landing")
    for i in range(3):
        new_docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = jobs.parquet_dir_stream(spark, landing, d.schema)
    out = str(tmp_path / "verdicts")
    q = jobs.screen_stream(
        stream, corpus, out, checkpoint=str(tmp_path / "cp")
    )
    q.awaitTermination(120)
    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    want = all_specs()["dedup_incremental_screen"].builder(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_ann_refresh_stream_matches_rebuild(spark, sf_dir, tmp_path):
    """Continuous ANN-index maintenance: the held-out embedding quarter
    lands as TWO files (two micro-batches) appended via ann_refresh_stream;
    the final index must equal a from-scratch build of the full set, row
    for row (multi-batch refresh == rebuild).  A replayed batch id must be
    a no-op (the _batches marker skips it)."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.similarity import (
        ANN_INDEX_SCHEMA,
        build_ann_index,
    )
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 3)
    held_out = e.filter(F.col("vec_id") % 4 == 3)
    path = build_ann_index(spark, sf_dir, source=base, suffix="_streamrefresh")

    landing = str(tmp_path / "emb_landing")
    for i in range(2):
        held_out.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = jobs.parquet_dir_stream(spark, landing, e.schema)
    q = jobs.ann_refresh_stream(stream, path, checkpoint=str(tmp_path / "cp2"))
    q.awaitTermination(120)

    merged = spark.read.schema(ANN_INDEX_SCHEMA).parquet(path)
    full = build_ann_index(spark, sf_dir, suffix="_streamrefresh_full")
    rebuilt = spark.read.schema(ANN_INDEX_SCHEMA).parquet(full)
    assert merged.count() == rebuilt.count()
    assert merged.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(merged).count() == 0

    # replaying a completed batch id is a no-op: same file count after
    import glob

    n_before = len(glob.glob(f"{path}/bucket=*/*.parquet"))
    q2 = jobs.ann_refresh_stream(
        jobs.parquet_dir_stream(spark, landing, e.schema),
        path,
        checkpoint=str(tmp_path / "cp3"),  # fresh checkpoint -> Spark replays
    )
    q2.awaitTermination(120)
    n_after = len(glob.glob(f"{path}/bucket=*/*.parquet"))
    assert n_after == n_before


def test_grouped_ann_stream_matches_batch_operator(spark, sf_dir, tmp_path):
    """Continuous batched ANN serving: the query batch lands as TWO
    separate files (two micro-batches), each answered against the standing
    corpus — the union of per-batch answers must equal the all-at-once
    sim_grouped_ann batch operator on the same split (each query's top-k
    depends only on (query, corpus), so chunking cannot change it)."""
    from pyspark.sql import functions as F

    from sql2all_spark.operators.ann_batch import QUERY_MOD
    from sql2all_spark.registry import all_specs
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % QUERY_MOD == 0)
    corpus = e.filter(F.col("vec_id") % QUERY_MOD != 0)

    landing = str(tmp_path / "query_landing")
    for i in range(2):
        queries.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    stream = jobs.parquet_dir_stream(spark, landing, e.schema)
    out = str(tmp_path / "answers")
    q = jobs.grouped_ann_stream(
        stream, corpus, out, checkpoint=str(tmp_path / "cp_ann")
    )
    q.awaitTermination(120)
    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    want = all_specs()["sim_grouped_ann"].builder(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_retention_stream_matches_batch_operator(spark, sf_dir, tmp_path):
    """Incremental cohort retention: events land as THREE day-range
    files (three micro-batches, simulating daily loads), each folded
    into the standing (user, day) pair-set state — the derived matrix
    must equal the all-at-once ts_retention_cohorts batch operator.
    A replayed batch is also folded twice to prove the semilattice
    idempotency claim (set-union state → at-least-once == exactly-once)."""
    from pyspark.sql import functions as F

    from sql2all_spark.registry import all_specs
    from sql2all_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3

    landing = str(tmp_path / "landing")
    splits = [
        e.filter(F.col("ts") <= F.lit(cut1)),
        e.filter((F.col("ts") > F.lit(cut1)) & (F.col("ts") <= F.lit(cut2))),
        e.filter(F.col("ts") > F.lit(cut2)),
    ]
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(landing)

    state = str(tmp_path / "state")
    stream = jobs.parquet_dir_stream(spark, landing, e.schema)
    q = jobs.retention_stream(stream, state, checkpoint=str(tmp_path / "cp"))
    q.awaitTermination(120)

    got = jobs.retention_matrix_from_state(spark, state)
    want = all_specs()["ts_retention_cohorts"].builder(spark, sf_dir)
    assert _rows(got) == _rows(want)

    # replay a batch out-of-band: the state is a set semilattice, so a
    # duplicate fold must not change the derived matrix
    from sql2all_spark.operators.retention import user_day_pairs

    user_day_pairs(splits[1]).distinct().write.mode("append").parquet(state)
    assert _rows(jobs.retention_matrix_from_state(spark, state)) == _rows(want)
