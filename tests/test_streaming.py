"""Structured Streaming smoke: continuous chunk-store ingest + windowed agg.

Mirrors the reference's long-lived client/server loop (files arrive ->
chunk -> probe store -> only misses persisted) with restart/idempotency
properties the reference lacks.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.streaming import ingest

from tests.conftest import rows_equal, spark_conf


def test_ingest_idempotent_store_merge(spark, sf_dir, tmp_path):
    from columnar_aware_dedup_spark.sources.store import drop_table_and_dir

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    store = "test_ingest_store"
    drop_table_and_dir(spark, store)
    ckpt = str(tmp_path / "ckpt")

    # batch 1: two files
    shutil.copy(f"{sf_dir}/region.parquet", inbox / "a.parquet")
    shutil.copy(f"{sf_dir}/nation.parquet", inbox / "b.parquet")
    q = ingest.start_ingest(spark, str(inbox), store, ckpt)
    q.awaitTermination(120)
    n1 = spark.table(store).count()
    assert n1 > 0

    # batch 2: a byte-identical copy (=> zero new signatures) + one new file
    shutil.copy(f"{sf_dir}/region.parquet", inbox / "a_copy.parquet")
    shutil.copy(f"{sf_dir}/supplier.parquet", inbox / "c.parquet")
    q = ingest.start_ingest(spark, str(inbox), store, ckpt)
    q.awaitTermination(120)
    store_df = spark.table(store)
    n2 = store_df.count()
    assert n2 > n1, "new file must add signatures"
    assert store_df.count() == store_df.select("signature").distinct().count(), (
        "identical copy must not duplicate store signatures"
    )


def test_stateful_dedup_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState first-event dedup == the batch rank-1 window
    (the batch/streaming contract for stateful operators)."""
    import pyspark.sql.functions as SF

    from columnar_aware_dedup_spark.streaming.stateful import dedup_first_stateful

    events_dir = tmp_path / "events_state"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    from columnar_aware_dedup_spark.streaming.ingest import events_stream

    stream = events_stream(spark, str(events_dir)).select(
        "user_id", "event_type", "event_id", "ts"
    )
    q = (
        dedup_first_stateful(stream)
        .writeStream.format("memory")
        .queryName("stateful_dedup_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, event_type, event_id, ts FROM stateful_dedup_smoke"
    )
    from columnar_aware_dedup_spark.operators.events import event_dedup_first

    want = event_dedup_first(spark, sf_dir)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "events.parquet")
    out = (
        ingest.streaming_tumbling_counts(spark, str(events_dir))
        .writeStream.format("memory")
        .queryName("tumbling_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    got = spark.sql("SELECT * FROM tumbling_smoke")
    # append mode emits only watermark-closed windows: subset of batch result
    from columnar_aware_dedup_spark.operators.events import event_tumbling_window

    batch = event_tumbling_window(spark, sf_dir).select(
        "window_start", "event_type", "n_events"
    )
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0, "streaming rows must match batch"


def test_chunk_store_stateful_ttl(spark, sf_dir, tmp_path):
    """The chunk store as expiring streaming state: within a TTL a repeated
    signature hits; after eviction it transfers again (the bounded-state
    answer to the reference's never-evicted HashMap).

    r12 (VERDICT r11 "Next round" #2 — suite wall-clock): with
    ``ProcessingTimeTimeout`` an availableNow run does NOT terminate once
    the data is drained — pending timers keep scheduling empty batches
    (measured: 120+ micro-batches at ~1.2 s each until the old
    ``awaitTermination(120)`` gave up), so this test burned 2 x 120 s AND
    leaked two forever-running queries that churned background batches
    under the rest of the suite. The queries are now polled for the exact
    condition under test (rows collected; state drained to zero after the
    eviction batch commits) and STOPPED explicitly."""
    import json
    import time

    from columnar_aware_dedup_spark.streaming.stateful import chunk_store_stateful

    inbox = tmp_path / "chunk_inbox"
    inbox.mkdir()
    ckpt = str(tmp_path / "ckpt_store_state")

    chunk_schema = "file string, chunk_idx int, signature string, size long"

    def run_batch(expect_rows: int, drain_state: bool = False):
        # foreachBatch sink: the memory sink can't resume from a checkpoint,
        # and resuming is exactly what this test exercises.
        collected = []

        def _collect(batch_df, _bid):
            collected.extend(batch_df.collect())

        stream = spark.readStream.schema(chunk_schema).parquet(str(inbox))
        q = (
            chunk_store_stateful(stream, ttl_ms=1)
            .writeStream.foreachBatch(_collect)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

        def done() -> bool:
            if len(collected) < expect_rows:
                return False
            if not drain_state:
                return True
            ops = (q.lastProgress or {}).get("stateOperators") or []
            return bool(ops) and ops[0].get("numRowsTotal") == 0

        try:
            deadline = time.time() + 120
            while True:
                # sampled BEFORE done(): a stopped query makes no more
                # progress, so done() is then final and failing is safe
                stopped = time.time() > deadline or not q.isActive
                if done():
                    break
                if stopped:
                    raise AssertionError(
                        f"wanted {expect_rows} rows"
                        f"{' and drained state' if drain_state else ''};"
                        f" got {len(collected)} rows, query active:"
                        f" {q.isActive}; last progress:\n"
                        + json.dumps(q.lastProgress, indent=1)
                    )
                time.sleep(0.2)
        finally:
            if q.isActive:
                q.stop()
            q.awaitTermination(60)
        return collected

    rows = [
        ("f1", 0, "sig_a", 10),
        ("f1", 1, "sig_b", 20),
        ("f2", 0, "sig_a", 10),  # duplicate of f1's first chunk
    ]
    spark.createDataFrame(rows, chunk_schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(inbox))
    # drain_state: wait for the timeout batch that EVICTS both signatures
    # to commit to the checkpoint before stopping — the restart below must
    # observe post-eviction state.
    got = {
        (r.file, r.signature): r.hit
        for r in run_batch(expect_rows=3, drain_state=True)
    }
    assert got[("f1", "sig_a")] is False, "first arrival transfers"
    assert got[("f2", "sig_a")] is True, "repeat within batch hits"
    assert got[("f1", "sig_b")] is False

    # the 1 ms TTL passed and the eviction batch committed (drained above);
    # the re-arrival must transfer again.
    spark.createDataFrame(
        [("f3", 0, "sig_a", 10)], chunk_schema
    ).coalesce(1).write.mode("append").parquet(str(inbox))
    got2 = {(r.file, r.signature): r.hit for r in run_batch(expect_rows=1)}
    assert got2[("f3", "sig_a")] is False, "evicted signature transfers again"


def test_dedup_within_watermark_bounds_state(spark, sf_dir, tmp_path):
    """Native dropDuplicatesWithinWatermark: replaying the same events file
    twice yields exactly one row per event_id (same key set as batch
    distinct), with state bounded by the watermark instead of a custom TTL."""
    import shutil

    from columnar_aware_dedup_spark.streaming.ingest import events_stream
    from columnar_aware_dedup_spark.streaming.stateful import dedup_within_watermark

    events_dir = tmp_path / "events_wm"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "b.parquet")

    q = (
        dedup_within_watermark(events_stream(spark, str(events_dir)))
        .writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM wm_dedup")
    n_events = got.count()
    n_keys = got.distinct().count()

    from columnar_aware_dedup_spark.io import table

    expected = table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n_events == n_keys == expected


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join == the batch interval join on
    bounded input (the batch/streaming contract, applied to dual-stream
    correlation — the reference's offer/ack pattern)."""
    from columnar_aware_dedup_spark.io import table
    from columnar_aware_dedup_spark.streaming import joins
    from columnar_aware_dedup_spark.streaming.ingest import events_stream

    events_dir = tmp_path / "events_ssj"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "events.parquet")

    sv, sc = joins.split_views_clicks(events_stream(spark, str(events_dir)))
    q = (
        joins.interval_join_stream(sv, sc)
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj")

    bv, bc = joins.split_views_clicks(table(spark, sf_dir, "events"))
    want = joins.interval_join_batch(bv, bc)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_hypertable_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Chained minute->hour streaming aggregation (two stateful operators in
    one query) emits exactly rows of the batch hourly rollup."""
    from columnar_aware_dedup_spark.io import table
    from columnar_aware_dedup_spark.streaming.ingest import events_stream
    from columnar_aware_dedup_spark.streaming.rollup import streaming_hypertable_rollup

    events_dir = tmp_path / "events_ht"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "events.parquet")

    q = (
        streaming_hypertable_rollup(events_stream(spark, str(events_dir)))
        .writeStream.format("memory")
        .queryName("ht_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ht"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ht_stream")

    e = table(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    assert got.count() > 0
    assert got.exceptAll(batch).count() == 0, "streaming rows must match batch"
    # completeness, not just soundness (ADVICE r02): every hour window the
    # 1-hour watermark has finalized (window end + watermark <= max event ts)
    # must have been emitted — a watermark that never closes later hours
    # would silently drop most of the stream and still pass the subset check.
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    finalized = batch.filter(
        F.col("bucket_start") + F.expr("INTERVAL 2 HOURS") <= F.lit(max_ts)
    )
    missing = finalized.exceptAll(got).count()
    assert missing == 0, f"{missing} finalized hourly windows missing from stream"


def test_streaming_anomaly_matches_batch(spark, sf_dir, tmp_path):
    """Single-batch parity: the stateful trailing-window scorer emits
    EXACTLY the batch twin's rows for every finalized hour (all but each
    type's newest hour), z-scores included — integer sums + one shared
    scoring expression make the equality exact, no float tolerance."""
    from columnar_aware_dedup_spark.streaming import anomaly

    events_dir = tmp_path / "events_anomaly"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "events.parquet")

    stream = anomaly.anomaly_sums_stream(
        ingest.events_stream(spark, str(events_dir))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("anomaly_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_anomaly"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("anomaly_smoke")
    assert got.count() > 0

    from columnar_aware_dedup_spark.io import table as load

    e = load(spark, sf_dir, "events")
    batch = anomaly.anomaly_sums_batch(e)
    # finalized = all hours strictly before each type's newest hour
    last = batch.groupBy("event_type").agg(
        F.max("bucket_start").alias("last_bucket")
    )
    finalized = (
        batch.join(last, "event_type")
        .filter(F.col("bucket_start") < F.col("last_bucket"))
        .select(
            "bucket_start", "event_type", "n_events",
            "win_sum", "win_sumsq", "n_obs",
        )
    )
    assert got.exceptAll(finalized).count() == 0, "stream ⊆ batch finalized"
    assert finalized.exceptAll(got).count() == 0, "batch finalized ⊆ stream"
    # the shared scoring projection yields identical flagged rows too
    sb = anomaly.with_zscore(finalized)
    ss = anomaly.with_zscore(got)
    assert ss.exceptAll(sb).count() == 0 and sb.exceptAll(ss).count() == 0


def test_streaming_anomaly_accumulates_across_batches(spark, sf_dir, tmp_path):
    """Two time-ordered micro-batches: pending hours carry across the batch
    boundary (a split mid-hour must not double-count or emit early) and the
    final output still equals the batch twin on finalized hours."""
    import pyarrow.parquet as pq
    import pyarrow.compute as pc

    from columnar_aware_dedup_spark.streaming import anomaly

    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts_sorted = sorted(t["ts"].to_pylist())
    cutoff = ts_sorted[len(ts_sorted) // 2]
    events_dir = tmp_path / "events_anomaly2"
    events_dir.mkdir()
    ck = str(tmp_path / "ck_anomaly2")

    collected = []

    def run():
        # foreachBatch sink: the memory sink can't resume from a checkpoint,
        # and resuming is exactly what this test exercises.
        def _collect(batch_df, _bid):
            collected.extend(batch_df.collect())

        stream = anomaly.anomaly_sums_stream(
            ingest.events_stream(spark, str(events_dir))
        )
        q = (
            stream.writeStream.foreachBatch(_collect)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pq.write_table(
        t.filter(pc.less_equal(t["ts"], cutoff)), events_dir / "part1.parquet"
    )
    run()
    n1 = len(collected)
    pq.write_table(
        t.filter(pc.greater(t["ts"], cutoff)), events_dir / "part2.parquet"
    )
    run()
    assert len(collected) > n1 > 0
    got = spark.createDataFrame(
        collected,
        "bucket_start timestamp, event_type string, n_events long,"
        " win_sum long, win_sumsq long, n_obs int",
    )

    from columnar_aware_dedup_spark.io import table as load

    batch = anomaly.anomaly_sums_batch(load(spark, sf_dir, "events"))
    last = batch.groupBy("event_type").agg(
        F.max("bucket_start").alias("last_bucket")
    )
    finalized = (
        batch.join(last, "event_type")
        .filter(F.col("bucket_start") < F.col("last_bucket"))
        .select(
            "bucket_start", "event_type", "n_events",
            "win_sum", "win_sumsq", "n_obs",
        )
    )
    assert got.exceptAll(finalized).count() == 0
    assert finalized.exceptAll(got).count() == 0


def test_streaming_indexer_matches_batch_index(spark, sf_dir, tmp_path):
    """Incremental postings maintenance: stream the corpus in two waves
    (with the first file REPLAYED in wave two), and the final index must
    equal the batch-built index over the whole corpus — the anti-join on
    indexed doc_ids makes replays no-ops, so tf never double-counts."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators import search
    from columnar_aware_dedup_spark.streaming import indexer

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_indexer")
    tbl = "test_streaming_postings"

    # seed an EMPTY bucketed index with the production layout
    empty = spark.createDataFrame([], "term string, doc_id long, tf long")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil as _sh

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    _sh.rmtree(f"{warehouse}/{tbl.lower()}", ignore_errors=True)
    (
        empty.write.format("parquet")
        .bucketBy(8, "term")
        .sortBy("term")
        .mode("overwrite")
        .saveAsTable(tbl)
    )

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = indexer.start_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)
    n1 = spark.table(tbl).count()
    assert n1 > 0

    # wave 2: the rest of the corpus + a byte-identical REPLAY of wave 1
    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1_replay.parquet")
    q = indexer.start_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    got = spark.table(tbl)
    want = indexer.batch_postings(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    assert got.count() == want.count(), "replay must not duplicate postings"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # and the maintained index serves searches identically to a fresh scan
    via_index = search.search_with_index(spark, tbl)
    via_scan = search.inverted_index_search(spark, sf_dir)
    assert rows_equal(via_index, via_scan)


def test_streaming_span_index_matches_batch_dedup(spark, sf_dir, tmp_path):
    """Incremental span-index maintenance: stream the corpus in two waves
    (with the first file REPLAYED in wave two); the maintained index must
    hold exactly the batch-derived span set, and the duplicated-span
    verdict table served FROM the index must equal the batch
    ``dup_span_fraction`` corpus scan row-for-row."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.text import dup_span_fraction
    from columnar_aware_dedup_spark.streaming import spans as span_idx

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_stream_spans"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_spans")
    tbl = "test_streaming_spans"

    span_idx.init_span_table(spark, tbl)

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = span_idx.start_span_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)
    assert spark.table(tbl).count() > 0

    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1_replay.parquet")
    q = span_idx.start_span_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    got = spark.table(tbl)
    want = span_idx.batch_spans(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("span", "doc_id")  # table column order; exceptAll is positional
    assert got.count() == want.count(), "replay must not duplicate spans"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    via_index = span_idx.dup_fraction_from_index(spark, tbl)
    via_scan = dup_span_fraction(spark, sf_dir)
    assert rows_equal(via_index, via_scan)


def test_streaming_dsir_gate_matches_batch(spark, sf_dir, tmp_path):
    """The streaming DSIR gate must score a two-wave document stream
    EXACTLY like the batch query scoring the same corpus against the same
    frozen model — shared-formula parity, no float tolerance. Stateless
    operator, so waves simply append."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators import selection as sel
    from columnar_aware_dedup_spark.operators.text import _fanned
    from columnar_aware_dedup_spark.streaming import selection as ssel

    lam = sel.fit_dsir_lambda(spark, sf_dir).localCheckpoint(eager=True)

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_dsir")
    out = str(tmp_path / "dsir_out")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")

    q = ssel.start_scoring(spark, str(docs_dir), lam, out, ck)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == half

    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    q = ssel.start_scoring(spark, str(docs_dir), lam, out, ck)
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {
        tuple(r)
        for r in sel.score_documents(_fanned(spark, sf_dir), lam).collect()
    }
    assert got == want
    # the frozen-model scores also equal the batch query's own self-fit run
    self_fit = {
        tuple(r) for r in sel.dsir_importance_weights(spark, sf_dir).collect()
    }
    assert got == self_fit


def test_streaming_sketches_match_batch(spark, sf_dir, tmp_path):
    """Incremental CMS/HLL maintenance: stream the corpus in two waves with
    a replayed file, and the served (re-aggregated) sketches must equal the
    batch-built ones cell-for-cell — replay protection is load-bearing for
    the additive CMS."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.streaming import sketches as sk

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_sketch")
    prefix = "test_stream_sketch"
    sk.init_sketch_tables(spark, prefix)

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = sk.start_sketcher(spark, str(docs_dir), prefix, ck)
    q.awaitTermination(120)
    assert spark.table(f"{prefix}_seen").count() == half

    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1_replay.parquet")
    q = sk.start_sketcher(spark, str(docs_dir), prefix, ck)
    q.awaitTermination(120)
    assert spark.table(f"{prefix}_seen").count() == t.num_rows

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got_cms = {tuple(r) for r in sk.served_cms(spark, prefix).collect()}
    want_cms = {tuple(r) for r in sk.batch_cms_cells(full).collect()}
    assert got_cms == want_cms
    got_hll = {tuple(r) for r in sk.served_hll(spark, prefix).collect()}
    want_hll = {tuple(r) for r in sk.batch_hll_regs(full).collect()}
    assert got_hll == want_hll


def test_sketch_merge_survives_crash_before_commit(spark, sf_dir):
    """ADVICE r04 #1: a merge that dies AFTER appending CMS/HLL/seen
    partials but BEFORE the commit marker must leave the served sketches
    untouched, and the checkpoint replay of the same batch must land the
    counts exactly once."""
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.streaming import sketches as sk

    prefix = "test_sketch_crash"
    sk.init_sketch_tables(spark, prefix)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)

    # simulate the aborted attempt: every append EXCEPT the commit marker
    # (the manifest row goes FIRST — the protocol's step zero, which is
    # what lets the sweep detect this crash without scanning data rows)
    from columnar_aware_dedup_spark.streaming.commitlog import record_attempt

    record_attempt(spark, f"{prefix}_attempts", "aborted-attempt")
    tag = F.lit("aborted-attempt").alias("attempt_id")
    sk.batch_cms_cells(docs).select("d", "b", "n", tag).write.mode(
        "append"
    ).insertInto(f"{prefix}_cms")
    sk.batch_hll_regs(docs).select("reg", "mr", tag).write.mode(
        "append"
    ).insertInto(f"{prefix}_hll")
    docs.select("doc_id", tag).write.mode("append").insertInto(f"{prefix}_seen")

    # crash debris is invisible: served sketches are still empty
    assert sk.served_cms(spark, prefix).count() == 0
    assert sk.served_hll(spark, prefix).count() == 0

    # the replay re-derives the SAME docs (they are not committed-seen)
    # and commits them exactly once
    assert sk.merge_sketches(spark, docs, prefix) == 40
    got = {tuple(r) for r in sk.served_cms(spark, prefix).collect()}
    want = {tuple(r) for r in sk.batch_cms_cells(docs).collect()}
    assert got == want
    got_hll = {tuple(r) for r in sk.served_hll(spark, prefix).collect()}
    want_hll = {tuple(r) for r in sk.batch_hll_regs(docs).collect()}
    assert got_hll == want_hll

    # a second replay after the successful commit is a no-op
    assert sk.merge_sketches(spark, docs, prefix) == 0
    assert {tuple(r) for r in sk.served_cms(spark, prefix).collect()} == want

    # ADVICE r05: the merge's opportunistic sweep must have PHYSICALLY
    # removed the aborted attempt's rows (not just hidden them) — debris
    # may not accumulate forever in the partial tables.
    for suffix in ("seen", "cms", "hll"):
        n = (
            spark.table(f"{prefix}_{suffix}")
            .filter(F.col("attempt_id") == "aborted-attempt")
            .count()
        )
        assert n == 0, f"{suffix}: crash debris survived the sweep"


def test_sweep_fast_path_reads_no_data_rows(spark):
    """VERDICT r08 "What's wrong" #3: when nothing crashed, the sweep must
    learn "0 debris" from the attempts/commits manifests ALONE. Proven
    structurally: the guarded data tables here DO NOT EXIST, so any
    attempt to read (or even resolve) them would raise — the fast path
    returns 0 without touching them."""
    from columnar_aware_dedup_spark.sources.store import drop_table_and_dir
    from columnar_aware_dedup_spark.streaming import commitlog

    for name in ("fastpath_attempts", "fastpath_commits"):
        # drop_table_and_dir, not bare DROP: a leftover warehouse dir from
        # another session's metastore fails saveAsTable with
        # LOCATION_ALREADY_EXISTS
        drop_table_and_dir(spark, name)
        spark.createDataFrame(
            [("a1",), ("a2",)], "attempt_id string"
        ).write.format("parquet").mode("overwrite").saveAsTable(name)
    removed = commitlog.sweep_uncommitted(
        spark,
        ["fastpath_data_table_that_does_not_exist"],
        "fastpath_commits",
        "fastpath_attempts",
    )
    assert removed == 0


def test_sweep_reclaim_is_crash_safe_mid_swap(spark, sf_dir):
    """ADVICE r08: committed rows must survive a sweep that dies mid-swap.
    Simulate the crash window (canonical unbound, staged versions intact)
    by renaming the swept table aside after planting debris; the next
    sweep's preflight rebinds and finishes the reclaim, and every
    committed row is still there."""
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.streaming import commitlog
    from columnar_aware_dedup_spark.streaming import sketches as sk

    prefix = "test_sweep_midswap"
    sk.init_sketch_tables(spark, prefix)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    assert sk.merge_sketches(spark, docs, prefix) == 30
    committed = {tuple(r) for r in sk.served_cms(spark, prefix).collect()}

    # plant a crashed attempt (manifest first, like a real dead writer)
    commitlog.record_attempt(spark, f"{prefix}_attempts", "dead")
    spark.createDataFrame(
        [(0, 0, 99, "dead")], "d int, b int, n long, attempt_id string"
    ).write.mode("append").insertInto(f"{prefix}_cms")

    # simulate a sweep crash between rename-aside and rename-in: the swept
    # staging table exists, the canonical name is unbound
    spark.sql(
        f"CREATE TABLE {prefix}_cms__compacting AS "
        f"SELECT * FROM {prefix}_cms WHERE attempt_id <> 'dead'"
    )
    spark.sql(f"ALTER TABLE {prefix}_cms RENAME TO {prefix}_cms__precompact")

    removed = commitlog.sweep_uncommitted(
        spark,
        [f"{prefix}_{s}" for s in ("seen", "cms", "hll")],
        f"{prefix}_commits",
        f"{prefix}_attempts",
    )
    # preflight rebound the swept version (its debris already gone), so
    # this sweep reports 0 debris rows in cms — but every committed row
    # survived and the dead attempt is physically gone everywhere
    assert removed == 0
    assert {
        tuple(r) for r in sk.served_cms(spark, prefix).collect()
    } == committed
    assert (
        spark.table(f"{prefix}_cms")
        .filter(F.col("attempt_id") == "dead")
        .count()
        == 0
    )
    assert (
        spark.table(f"{prefix}_attempts")
        .filter(F.col("attempt_id") == "dead")
        .count()
        == 0
    )


def test_streaming_lsh_index_matches_batch_near_dup(spark, sf_dir, tmp_path):
    """Incremental MinHash-LSH maintenance: stream the corpus in two waves
    (first file REPLAYED in wave two); the maintained band-bucket table
    must hold exactly the batch-derived band rows, and the candidate-pair
    table served FROM the index must equal the batch ``minhash_near_dup``
    corpus re-hash row-for-row."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.text import minhash_near_dup
    from columnar_aware_dedup_spark.streaming import lsh

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_stream_lsh"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_lsh")
    tbl = "test_streaming_lsh"

    lsh.init_band_table(spark, tbl)

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = lsh.start_lsh_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)
    n1 = spark.table(tbl).count()
    assert n1 == 4 * half, "4 band rows per wave-1 doc"

    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1_replay.parquet")
    q = lsh.start_lsh_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    got = spark.table(tbl)
    want = lsh.batch_bands(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("bucket", "band", "doc_id")
    assert got.count() == want.count(), "replay must not duplicate band rows"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    via_index = lsh.near_dup_pairs_from_index(spark, tbl)
    via_scan = minhash_near_dup(spark, sf_dir)
    assert rows_equal(via_index, via_scan)

    # the layout claim: pair serving self-joins on exactly the bucket key,
    # so the bucketed table contributes ZERO join exchanges — the only
    # exchanges left are the two phases of the countDistinct aggregation
    # (keyed on doc pairs, never on the bucket). Broadcast is disabled for
    # the check (at fixture scale Spark would broadcast the tiny table,
    # which also avoids the shuffle but proves nothing about the layout a
    # 100 TB index relies on), and the plan is taken from a FRESH DataFrame
    # — explaining an already-executed AQE plan prints initial+final trees
    # and double-counts every exchange.
    from columnar_aware_dedup_spark.plans import explain

    with spark_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        fresh = lsh.near_dup_pairs_from_index(spark, tbl)
        plan = explain.plan_string(fresh, "formatted")
        n_ex = explain.n_exchanges(fresh)
    assert n_ex <= 2, f"bucket self-join re-shuffled ({n_ex} exchanges):\n{plan}"
    assert "hashpartitioning(bucket" not in plan, (
        "the index was re-shuffled on the bucket key it is stored "
        f"bucketed by:\n{plan}"
    )


def test_streaming_lsh_probe_scores_only_against_history(spark, sf_dir, tmp_path):
    """``probe_near_dups`` is the admission gate: an un-indexed batch
    probed against the indexed history must report exactly the cross-set
    collisions of the batch pair table — no batch-internal pairs, no
    history-internal pairs — and must leave the index unchanged."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.streaming import lsh

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_probe_lsh"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_probe_lsh")
    tbl = "test_streaming_lsh_probe"

    lsh.init_band_table(spark, tbl)

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = lsh.start_lsh_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch2 = full.join(
        spark.table(tbl).select("doc_id").distinct(), "doc_id", "left_anti"
    )
    n_before = spark.table(tbl).count()
    got = {
        (r["new_doc_id"], r["old_doc_id"], r["shared_bands"])
        for r in lsh.probe_near_dups(spark, batch2, tbl).collect()
    }
    assert spark.table(tbl).count() == n_before, "probe must not index"

    # reference: cross-set collisions from batch band rows vs table rows
    from pyspark.sql import functions as F

    probe_b = lsh.batch_bands(batch2).alias("p")
    hist_b = lsh.batch_bands(
        full.join(batch2.select("doc_id"), "doc_id", "left_anti")
    ).alias("h")
    want = {
        (r["new_doc_id"], r["old_doc_id"], r["shared_bands"])
        for r in probe_b.join(
            hist_b, F.col("p.bucket") == F.col("h.bucket")
        )
        .groupBy(
            F.col("p.doc_id").alias("new_doc_id"),
            F.col("h.doc_id").alias("old_doc_id"),
        )
        .agg(F.countDistinct("p.band").alias("shared_bands"))
        .collect()
    }
    assert got == want
    assert got, "fixture corpus must produce at least one cross-wave collision"

    # the store-probe discipline: only the incoming batch's band rows
    # shuffle (its repartition + the join key); the bucketed history side
    # contributes ZERO exchanges, plus the final aggregation
    from columnar_aware_dedup_spark.plans import explain

    probed = lsh.probe_near_dups(spark, batch2, tbl)
    n_ex = explain.n_exchanges(probed)
    assert n_ex <= 3, (
        f"history side re-shuffled ({n_ex} exchanges):\n"
        + explain.plan_string(probed, "formatted")
    )


def test_crawl_admission_agrees_with_streaming_probe(spark, sf_dir):
    """The batch admission gate (``crawl_admission_report``) and the
    maintained-index probe (``probe_near_dups``) are the SAME question in
    two deployment shapes — score the incoming crawl against the immutable
    corpus. With the index holding exactly the corpus side (every source
    but the incoming one), the set of near-flagged incoming docs must
    match doc-for-doc, and so must the keep/drop admission decision."""

    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.operators.text import (
        _INCOMING_SOURCE,
        crawl_admission_report,
    )
    from columnar_aware_dedup_spark.streaming import lsh

    tbl = "test_admission_parity_lsh"
    lsh.init_band_table(spark, tbl)

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = full.filter(F.col("source") != _INCOMING_SOURCE)
    incoming = full.filter(F.col("source") == _INCOMING_SOURCE)
    lsh.merge_bands(spark, corpus, tbl)

    flagged_stream = {
        r["new_doc_id"]
        for r in lsh.probe_near_dups(spark, incoming, tbl).collect()
    }
    batch = {
        r["doc_id"]: r for r in crawl_admission_report(spark, sf_dir).collect()
    }
    flagged_batch = {d for d, r in batch.items() if r["n_band_hits"] > 0}
    assert flagged_batch == flagged_stream
    assert flagged_stream, "fixture must flag at least one incoming doc"
    for d, r in batch.items():
        admitted = r["verdict"] == "admit"
        assert admitted == (d not in flagged_stream and not r["exact_dup"]), (
            d,
            r,
        )


def test_lsh_index_compaction_preserves_layout_and_pairs(spark, sf_dir, tmp_path):
    """`compact_store(key='bucket', dedupe=False)` is the LSH index's
    maintenance path: after two merge waves it must collapse the accreted
    files to one per non-empty bucket, preserve the exact band-row set,
    and keep the table's own 8-bucket layout that makes pair serving
    exchange-free on the index side."""
    import os
    import re

    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.plans import explain
    from columnar_aware_dedup_spark.sources.store import (
        _store_location,
        bucket_spec,
        compact_store,
    )
    from columnar_aware_dedup_spark.streaming import lsh

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    tbl = "test_lsh_compact"

    lsh.init_band_table(spark, tbl)

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = [spark.createDataFrame(t.slice(0, half).to_pandas()),
            spark.createDataFrame(t.slice(half).to_pandas())]
    for d in docs:
        assert lsh.merge_bands(spark, d, tbl) > 0

    before_rows = {tuple(r) for r in spark.table(tbl).collect()}
    n_before, n_after = compact_store(spark, tbl, key="bucket", dedupe=False)
    assert n_after < n_before, (n_before, n_after)
    assert {tuple(r) for r in spark.table(tbl).collect()} == before_rows
    assert bucket_spec(spark, tbl) == (8, "bucket")
    non_empty = (
        spark.table(tbl)
        .select(F.pmod(F.hash("bucket"), F.lit(8)))
        .distinct()
        .count()
    )
    buckets = [
        re.search(r"_(\d{5})\.c\d{3}", f).group(1)
        for f in os.listdir(_store_location(spark, tbl))
        if f.endswith(".parquet")
    ]
    assert n_after == len(buckets) == len(set(buckets)) == non_empty, buckets

    with spark_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        pairs = lsh.near_dup_pairs_from_index(spark, tbl)
        plan = explain.plan_string(pairs, "formatted")
        n_ex = explain.n_exchanges(pairs)
    assert n_ex <= 2 and "hashpartitioning(bucket" not in plan, (
        f"compaction broke the bucketed layout ({n_ex} exchanges):\n{plan}"
    )


def test_band_append_follows_table_bucket_layout(spark, sf_dir):
    """A merge repartitions its delta to the table's CATALOG bucket spec,
    not to a width fixed in code: after compaction re-lays the band table
    at 12 buckets, one merge writes at most one new file per bucket id."""
    import collections
    import os
    import re

    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.sources.store import (
        _store_location,
        compact_store,
    )
    from columnar_aware_dedup_spark.streaming import lsh

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    tbl = "test_lsh_relaid"
    lsh.init_band_table(spark, tbl)
    wave1 = spark.createDataFrame(t.slice(0, half).to_pandas())
    assert lsh.merge_bands(spark, wave1, tbl) > 0
    compact_store(spark, tbl, n_buckets=12, key="bucket", dedupe=False)

    location = _store_location(spark, tbl)
    before = set(os.listdir(location))
    wave2 = spark.createDataFrame(t.slice(half).to_pandas())
    assert lsh.merge_bands(spark, wave2, tbl) > 0
    new = [
        f for f in os.listdir(location)
        if f.endswith(".parquet") and f not in before
    ]
    per_bucket = collections.Counter(
        re.search(r"_(\d{5})\.c\d{3}", f).group(1) for f in new
    )
    assert new and max(per_bucket.values()) == 1, per_bucket


def test_streaming_ivf_index_matches_batch_topk(spark, sf_dir, tmp_path):
    """Incremental IVF maintenance: stream the embedding collection in two
    waves (first file REPLAYED in wave two) against FROZEN centroids; the
    maintained cell-partitioned directory must hold each vector exactly
    once in its batch-assigned cell, and ``ann_ivf_topk_from_index`` over
    it must equal the batch ``ann_ivf_topk`` corpus re-assignment
    row-for-row."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.similarity import (
        ann_ivf_topk,
        ann_ivf_topk_from_index,
        ivf_assign,
    )
    from columnar_aware_dedup_spark.streaming import ivf

    t = pq_.read_table(f"{sf_dir}/embeddings.parquet")
    half = t.num_rows // 2
    vec_dir = tmp_path / "vec_stream_ivf"
    vec_dir.mkdir()
    ck = str(tmp_path / "ck_ivf")
    idx = str(tmp_path / "ivf_index")
    cent = ivf.frozen_centroids(spark, sf_dir)

    pq_.write_table(t.slice(0, half), vec_dir / "wave1.parquet")
    q = ivf.start_ivf_indexer(spark, str(vec_dir), cent, idx, ck)
    q.awaitTermination(120)
    assert spark.read.parquet(idx).count() == half

    pq_.write_table(t.slice(half), vec_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), vec_dir / "wave1_replay.parquet")
    q = ivf.start_ivf_indexer(spark, str(vec_dir), cent, idx, ck)
    q.awaitTermination(120)

    got = spark.read.parquet(idx).select("vec_id", "cid")
    want = ivf_assign(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), cent
    ).select("vec_id", "cid")
    assert got.count() == want.count(), "replay must not duplicate vectors"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    assert rows_equal(
        ann_ivf_topk_from_index(spark, sf_dir, idx),
        ann_ivf_topk(spark, sf_dir),
    )


def test_streaming_pq_codes_match_batch_topk(spark, sf_dir, tmp_path):
    """Incremental PQ code maintenance: stream the embedding collection in
    two waves (first file REPLAYED in wave two) against FROZEN codebooks;
    the maintained code table must hold each vector's batch-encoded codes
    exactly once, and ``ann_pq_topk_from_index`` over it must equal the
    batch ``ann_pq_topk`` corpus re-encode row-for-row."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.pq import (
        ann_pq_topk,
        ann_pq_topk_from_index,
        encode_expr,
        fixed_codebooks,
    )
    from columnar_aware_dedup_spark.streaming import pqcodes

    t = pq_.read_table(f"{sf_dir}/embeddings.parquet")
    half = t.num_rows // 2
    vec_dir = tmp_path / "vec_stream_pq"
    vec_dir.mkdir()
    ck = str(tmp_path / "ck_pq")
    tbl = "test_streaming_pq_codes"
    e_full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cbs = fixed_codebooks(e_full)

    import shutil as _sh

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    _sh.rmtree(f"{warehouse}/{tbl.lower()}", ignore_errors=True)
    empty = spark.createDataFrame([], "vec_id long, codes array<int>")
    empty.write.format("parquet").mode("overwrite").saveAsTable(tbl)

    pq_.write_table(t.slice(0, half), vec_dir / "wave1.parquet")
    q = pqcodes.start_pq_indexer(spark, str(vec_dir), cbs, tbl, ck)
    q.awaitTermination(120)
    assert spark.table(tbl).count() == half

    pq_.write_table(t.slice(half), vec_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), vec_dir / "wave1_replay.parquet")
    q = pqcodes.start_pq_indexer(spark, str(vec_dir), cbs, tbl, ck)
    q.awaitTermination(120)

    got = spark.table(tbl)
    want = e_full.join(F.broadcast(cbs)).select(
        "vec_id", encode_expr().alias("codes")
    )
    assert got.count() == want.count(), "replay must not duplicate codes"
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    assert rows_equal(
        ann_pq_topk_from_index(spark, sf_dir, tbl),
        ann_pq_topk(spark, sf_dir),
    )


def test_streaming_ivf_probe_matches_batch_nprobe_topk(spark, sf_dir, tmp_path):
    """The index admission probe: scoring the query vectors against a fully
    merged index must reproduce the batch ``ann_ivf_nprobe_topk`` ranking
    (same nprobe/k), and probing must leave the index untouched."""
    from columnar_aware_dedup_spark.operators.similarity import (
        _NQ,
        ann_ivf_nprobe_topk,
    )
    from columnar_aware_dedup_spark.streaming import ivf

    idx = str(tmp_path / "ivf_probe_index")
    cent = ivf.frozen_centroids(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf.merge_vectors(spark, e, cent, idx)
    before = spark.read.parquet(idx).count()

    queries = e.filter(F.col("vec_id") < _NQ)
    got = ivf.probe_topk(spark, queries, cent, idx).drop("rn")
    want = ann_ivf_nprobe_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "cosine_sim"
    )
    assert rows_equal(got.select("query_id", "neighbor_id", "cosine_sim"), want)
    assert spark.read.parquet(idx).count() == before, "probe must not write"


def test_streaming_ivf_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The probe's scale claim, plan-pinned: scoring a batch against the
    maintained index must restrict the historical scan to the batch's
    probed cells via dynamic partition pruning (the same property
    `test_persisted_ivf_index_prunes_partitions` pins for the serving
    path)."""
    from columnar_aware_dedup_spark.operators.similarity import _NQ
    from columnar_aware_dedup_spark.plans import explain
    from columnar_aware_dedup_spark.streaming import ivf

    idx = str(tmp_path / "ivf_probe_dpp_index")
    cent = ivf.frozen_centroids(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf.merge_vectors(spark, e, cent, idx)

    probe = ivf.probe_topk(
        spark, e.filter(F.col("vec_id") < _NQ), cent, idx
    )
    plan = explain.plan_string(probe, "formatted")
    pruned = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "dynamicpruning" in line.lower()
    ]
    assert pruned, f"index scan in the probe is not partition-pruned:\n{plan}"


def test_streaming_cluster_index_matches_batch(spark, sf_dir, tmp_path):
    """Incremental near-dup CLUSTER maintenance: stream the corpus in two
    waves (first file replayed in wave two); the maintained label table
    must equal the batch ``near_dup_clusters`` verdict table row-for-row —
    min-id labels are associative under edge union, so folding deltas
    against label-edges equals re-clustering the corpus."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.clustering import (
        near_dup_clusters,
    )
    from columnar_aware_dedup_spark.streaming import clusters, lsh

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "docs_cluster_stream"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_cluster")
    band_tbl = "test_cluster_bands"
    label_tbl = "test_cluster_labels"
    done_tbl = "test_cluster_done"


    lsh.init_band_table(spark, band_tbl)
    clusters.init_cluster_tables(spark, label_tbl, done_tbl)

    pq_.write_table(t.slice(0, half), docs_dir / "wave1.parquet")
    q = clusters.start_cluster_indexer(
        spark, str(docs_dir), band_tbl, label_tbl, done_tbl, ck
    )
    q.awaitTermination(180)
    n1 = spark.table(label_tbl).count()

    pq_.write_table(t.slice(half), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(0, half), docs_dir / "wave1_replay.parquet")
    q = clusters.start_cluster_indexer(
        spark, str(docs_dir), band_tbl, label_tbl, done_tbl, ck
    )
    q.awaitTermination(180)

    got = clusters.clusters_from_index(spark, label_tbl)
    want = near_dup_clusters(spark, sf_dir)
    assert rows_equal(got, want)
    assert got.count() >= n1, "labels only ever gain or merge members"

    # a pure replay folds nothing and leaves the table untouched
    wave1 = spark.read.parquet(str(docs_dir / "wave1.parquet"))
    before = sorted(tuple(r) for r in spark.table(label_tbl).collect())
    n = clusters.merge_clusters(spark, wave1, band_tbl, label_tbl, done_tbl)
    assert n == 0
    after = sorted(tuple(r) for r in spark.table(label_tbl).collect())
    assert before == after

    # crash-debris recovery: band rows appended (simulating a crash after
    # merge_bands, before the label fold) are picked up by the NEXT merge
    # even when that merge's own batch is empty
    extra = spark.createDataFrame(
        [(999999, "the quick brown fox jumps over the lazy dog today", "en",
          "crash", 49)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    lsh.merge_bands(spark, extra, band_tbl)  # indexed but never folded
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    n = clusters.merge_clusters(
        spark, empty_docs, band_tbl, label_tbl, done_tbl
    )
    assert n == 1, "the debris doc must be folded by the empty merge"


def test_cluster_delta_pairs_probe_discipline(spark, sf_dir, tmp_path):
    """`delta_pairs` must keep the store-probe shape: the work-list filter
    broadcasts (the index is never shuffled to find the probe rows), and
    the plan carries no cartesian product; exchange count stays bounded by
    the probe side + the pair dedupe."""

    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.plans import explain
    from columnar_aware_dedup_spark.streaming import clusters, lsh

    tbl = "test_delta_pairs_bands"
    lsh.init_band_table(spark, tbl)
    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lsh.merge_bands(spark, full, tbl)

    bands = spark.table(tbl)
    todo = bands.select("doc_id").distinct().filter(F.col("doc_id") % 20 == 6)
    df = clusters.delta_pairs(bands, todo)
    plan = explain.plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin [doc_id" in plan.replace("#", " #").replace(
        "doc_id#", "doc_id #"
    ) or "BroadcastHashJoin" in plan, plan
    n = explain.n_exchanges(df)
    assert n <= 4, f"delta_pairs grew to {n} exchanges:\n{plan}"
    # and the probe actually finds the planted near-dup pairs
    assert df.count() > 0


def test_cluster_label_swap_crash_recovery(spark, sf_dir, tmp_path):
    """Kill the label swap in its unbound window (canonical renamed aside,
    replacement not yet renamed in) and drive the store's swap recovery
    (``store.recover_compaction``) through both branches: rebinding the
    OLD labels must leave the maintainer fully functional — the crashed
    merge's docs were never marked done, so the next merge re-folds them
    and converges to the batch answer anyway."""

    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.sources import store
    from columnar_aware_dedup_spark.streaming import clusters, lsh

    band_tbl = "test_cluster_crash_bands"
    label_tbl = "test_cluster_crash_labels"
    done_tbl = "test_cluster_crash_done"

    lsh.init_band_table(spark, band_tbl)
    clusters.init_cluster_tables(spark, label_tbl, done_tbl)

    full = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wave1 = full.filter(F.col("doc_id") % 2 == 0)
    clusters.merge_clusters(spark, wave1, band_tbl, label_tbl, done_tbl)
    want = sorted(tuple(r) for r in spark.table(label_tbl).collect())

    # bound-canonical branch: nothing to recover, debris swept
    spark.createDataFrame([(1, 1)], "doc_id long, cluster_id long").write.mode(
        "overwrite"
    ).saveAsTable(f"{label_tbl}__compacting")
    assert store.recover_compaction(spark, label_tbl) is None
    assert not spark.catalog.tableExists(f"{label_tbl}__compacting")

    # crash window: canonical unbound, old labels sitting aside
    spark.sql(f"ALTER TABLE {label_tbl} RENAME TO {label_tbl}__precompact")
    assert not spark.catalog.tableExists(label_tbl)
    bound = store.recover_compaction(spark, label_tbl, prefer="new")
    # prefer="new" falls back to the only candidate present — the old one
    assert bound == "old"
    got = sorted(tuple(r) for r in spark.table(label_tbl).collect())
    assert got == want, "recovered labels must be the pre-crash table"

    # and the maintainer keeps working after recovery
    n = clusters.merge_clusters(
        spark, full.filter(F.col("doc_id") % 2 == 1), band_tbl, label_tbl,
        done_tbl,
    )
    assert n > 0
    from columnar_aware_dedup_spark.operators.clustering import (
        near_dup_clusters,
    )

    assert rows_equal(
        clusters.clusters_from_index(spark, label_tbl),
        near_dup_clusters(spark, sf_dir),
    )


def test_streaming_bm25_index_matches_batch(spark, sf_dir, tmp_path):
    """Incremental BM25 maintenance: seed the index from the first half of
    the corpus, stream the second half in two waves (the second wave
    REPLAYS the first file byte-identically and adds a planted TOKEN-LESS
    document), and the served top-20 must equal a batch rebuild over the
    same final corpus — postings, N (which the empty doc must still
    bump), and avgdl all exact through the delta path."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.streaming import bm25 as sbm25
    from tests.conftest import rows_equal

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    docs_dir = tmp_path / "bm25_stream"
    docs_dir.mkdir()
    ck = str(tmp_path / "ck_bm25")
    tbl = "test_streaming_bm25"

    # seed: batch index over the first half, via a parquet dir the batch
    # writer can read as a documents fixture.
    seed_dir = tmp_path / "bm25_seed"
    seed_dir.mkdir()
    pq_.write_table(t.slice(0, half), seed_dir / "documents.parquet")
    write_bm25_index(spark, str(seed_dir), tbl)

    # wave 1: third quarter; wave 2: the rest + wave-1 replay + empty doc.
    q3 = half + (t.num_rows - half) // 2
    pq_.write_table(t.slice(half, q3 - half), docs_dir / "wave1.parquet")
    q = sbm25.start_bm25_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    pq_.write_table(t.slice(q3), docs_dir / "wave2.parquet")
    pq_.write_table(t.slice(half, q3 - half), docs_dir / "wave1_replay.parquet")
    empty_doc = spark.createDataFrame(
        [(999_999, "", "en", "planted", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    empty_doc.toPandas().to_parquet(docs_dir / "wave3_empty.parquet")
    q = sbm25.start_bm25_indexer(spark, str(docs_dir), tbl, ck)
    q.awaitTermination(120)

    # batch truth: rebuild over the final corpus (all docs + the empty one)
    full_dir = tmp_path / "bm25_full"
    full_dir.mkdir()
    pq_.write_table(t, full_dir / "documents.parquet")
    truth_tbl = "test_streaming_bm25_truth"
    write_bm25_index(spark, str(full_dir), truth_tbl)
    # fold the planted empty doc into the truth index the same delta way a
    # batch re-run would see it (it changes only N).
    sbm25.merge_bm25_delta(spark, empty_doc, truth_tbl)

    got = bm25_from_index(spark, tbl)
    want = bm25_from_index(spark, truth_tbl)
    assert rows_equal(got, want)
    # the replay absorbed to zero and the empty doc counted exactly once:
    # committed per-attempt stats partials sum to the same corpus totals.
    from columnar_aware_dedup_spark.streaming.commitlog import committed

    def totals(name):
        r = committed(spark, name, "_stats").groupBy().sum(
            "n_docs", "n_dl_docs", "dl_sum"
        ).collect()[0]
        return tuple(r)

    assert totals(tbl) == totals(truth_tbl)
    assert (
        committed(spark, tbl, "").count()
        == committed(spark, truth_tbl, "").count()
    )


def test_streaming_bm25_crash_window(spark, sf_dir, tmp_path):
    """A crash between the merge's appends must not corrupt the index:
    partial rows under an uncommitted attempt are invisible to serving,
    the next merge's sweep physically removes them, and a replay of the
    crashed batch under a fresh attempt converges to the batch truth."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_frames,
        bm25_from_index,
        corpus_stats,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.streaming import bm25 as sbm25
    from tests.conftest import rows_equal

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    tbl = "test_bm25_crash"
    seed_dir = tmp_path / "crash_seed"
    seed_dir.mkdir()
    pq_.write_table(t.slice(0, half), seed_dir / "documents.parquet")
    write_bm25_index(spark, str(seed_dir), tbl)
    before = bm25_from_index(spark, tbl).collect()

    # simulated crash: the second half's postings + registry + stats rows
    # land under an attempt that NEVER commits (the writer died before the
    # commits append).
    rest_dir = tmp_path / "crash_rest"
    rest_dir.mkdir()
    pq_.write_table(t.slice(half), rest_dir / "documents.parquet")
    rest = spark.read.parquet(str(rest_dir / "documents.parquet"))
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.streaming.commitlog import record_attempt

    record_attempt(spark, tbl + "_attempts", "dead-attempt")
    tag = F.lit("dead-attempt").alias("attempt_id")
    postings, registry = bm25_frames(rest)
    reg = registry.select("doc_id", "dl", tag)
    postings.select(
        "term", "doc_id", "tf", "dl", tag
    ).write.format("parquet").mode("append").insertInto(tbl)
    reg.write.format("parquet").mode("append").insertInto(tbl + "_docs")
    corpus_stats(reg).select(
        tag, "n_docs", "n_dl_docs", "dl_sum"
    ).write.format("parquet").mode("append").insertInto(tbl + "_stats")
    for s in ("", "_docs", "_stats"):
        spark.catalog.refreshTable(tbl + s)

    # debris is invisible: serving is byte-identical to pre-crash.
    assert rows_equal(bm25_from_index(spark, tbl),
                      spark.createDataFrame(before))

    # the replayed batch merges under a fresh attempt; the sweep reclaims
    # the dead attempt's rows physically.
    n = sbm25.merge_bm25_delta(spark, rest, tbl)
    assert n == t.num_rows - half
    dead = spark.table(tbl).filter("attempt_id = 'dead-attempt'").count()
    dead += spark.table(tbl + "_docs").filter(
        "attempt_id = 'dead-attempt'").count()
    dead += spark.table(tbl + "_stats").filter(
        "attempt_id = 'dead-attempt'").count()
    assert dead == 0

    # converged: equal to a batch rebuild over the full corpus.
    full_dir = tmp_path / "crash_full"
    full_dir.mkdir()
    pq_.write_table(t, full_dir / "documents.parquet")
    write_bm25_index(spark, str(full_dir), tbl + "_truth")
    assert rows_equal(
        bm25_from_index(spark, tbl), bm25_from_index(spark, tbl + "_truth")
    )


def test_bm25_intra_batch_replay_cannot_double_count(spark, sf_dir, tmp_path):
    """A file AND its at-least-once replay copy present BEFORE the
    stream's first trigger land in the SAME micro-batch, where the
    registry anti-join cannot see them — the intra-batch dedup must keep
    tf, N, and avgdl exact (review finding: without it the doc's postings
    doubled permanently)."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.streaming import bm25 as sbm25
    from tests.conftest import rows_equal

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    half = t.num_rows // 2
    tbl = "test_bm25_intrabatch"
    seed_dir = tmp_path / "ib_seed"
    seed_dir.mkdir()
    pq_.write_table(t.slice(0, half), seed_dir / "documents.parquet")
    write_bm25_index(spark, str(seed_dir), tbl)

    # one stream run over a directory that ALREADY holds the second half
    # twice (byte-identical copies) -> one micro-batch with every doc
    # duplicated.
    docs_dir = tmp_path / "ib_stream"
    docs_dir.mkdir()
    pq_.write_table(t.slice(half), docs_dir / "rest.parquet")
    pq_.write_table(t.slice(half), docs_dir / "rest_replay.parquet")
    q = sbm25.start_bm25_indexer(
        spark, str(docs_dir), tbl, str(tmp_path / "ib_ck")
    )
    q.awaitTermination(120)

    full_dir = tmp_path / "ib_full"
    full_dir.mkdir()
    pq_.write_table(t, full_dir / "documents.parquet")
    write_bm25_index(spark, str(full_dir), tbl + "_truth")
    assert rows_equal(
        bm25_from_index(spark, tbl), bm25_from_index(spark, tbl + "_truth")
    )


def test_statskey_merge_idempotent_and_dup_guarded(spark, sf_dir):
    """The 9th family's maintainer (streaming/statskeys.py): a replayed
    wave appends ZERO rows (the (file, region) anti-join), an intra-batch
    duplicate region inserts once, and the maintained table equals the
    one-shot parse — the parity certificate's replay-zero claim at unit
    granularity."""
    from columnar_aware_dedup_spark.operators.zonemap import (
        stripe_stats_key_table,
    )
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        orc_fixture_dirs,
    )
    from columnar_aware_dedup_spark.streaming import statskeys
    from tests.conftest import rows_equal

    store_dir, _ = orc_fixture_dirs(sf_dir)
    rows = stripe_stats_key_table(spark, store_dir)
    tbl = statskeys.init_statskey_table(spark, "test_statskey_idem")
    # intra-batch duplicate: the same wave unioned with itself
    wave = rows.limit(2)
    n = statskeys.merge_statskey_delta(spark, wave.unionAll(wave), tbl)
    assert n == 2, n
    assert statskeys.merge_statskey_delta(spark, wave, tbl) == 0
    statskeys.merge_statskey_delta(spark, rows, tbl)
    assert rows_equal(spark.table(tbl), rows)


def test_statskey_two_level_merge_and_level_key(spark, sf_dir):
    """The r11 two-level maintained layout: the level-tagged fold is
    idempotent (replay appends zero), converges to the one-shot two-level
    parse, and the widened idempotence key actually uses ``level`` — a
    region row and a column row that agree on every other key column must
    BOTH land."""
    from columnar_aware_dedup_spark.operators.zonemap import (
        orc_two_level_table,
    )
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        orc_fixture_dirs,
    )
    from columnar_aware_dedup_spark.streaming import statskeys
    from tests.conftest import rows_equal

    store_dir, _ = orc_fixture_dirs(sf_dir)
    rows = orc_two_level_table(spark, store_dir).localCheckpoint(eager=False)
    tbl = statskeys.init_statskey_table(
        spark, "test_statskey_two_level", two_level=True
    )
    assert statskeys.merge_statskey_delta(spark, rows, tbl) > 0
    assert statskeys.merge_statskey_delta(spark, rows, tbl) == 0
    assert rows_equal(spark.table(tbl), rows)

    # level is part of the key: same (file, idx, key, sig) under two
    # levels inserts two rows
    tbl2 = statskeys.init_statskey_table(
        spark, "test_statskey_levelkey", two_level=True
    )
    twin = spark.createDataFrame(
        [
            ("f.orc", 0, "k", "sig", 10, "region"),
            ("f.orc", 0, "k", "sig", 10, "column"),
        ],
        "file_name string, stripe_idx int, stats_key string,"
        " signature string, data_size long, level string",
    )
    assert statskeys.merge_statskey_delta(spark, twin, tbl2) == 2


def test_certify_replays_wave1_and_rejects_a_nonzero_replay(spark):
    """The parity certificates' one replay rule (``_certify``): merges run
    wave 1, wave 1 again, wave 2; the two waves partition the rows, the
    negative odd key landing in wave 2; a replay that appends anything
    raises and wave 2 never folds."""
    from columnar_aware_dedup_spark.operators.streaming_parity import _certify

    rows = spark.createDataFrame([(k,) for k in (-3, -2, 0, 1, 4)], "k long")
    waves = []

    def merge(d):
        waves.append(sorted(r["k"] for r in d.collect()))
        return 0

    _certify(merge, rows, "k")
    assert waves == [[-2, 0, 4], [-2, 0, 4], [-3, 1]]
    assert sorted(waves[0] + waves[2]) == [-3, -2, 0, 1, 4]

    appended = iter([2, 3])
    with pytest.raises(AssertionError, match=r"\b3\b"):
        _certify(lambda d: next(appended), rows, "k")
    assert next(appended, None) is None


def test_statsprune_served_bit_flips_on_inplan_substitute(spark, sf_dir):
    """The r11 served-from-index guard bit: TRUE when the certificate's
    store side physically reads the maintained warehouse table, FALSE
    when an in-plan recompute of the same rows is substituted — so the
    parity rows' oracles (which restate TRUE) would hash-FAIL on a
    non-served implementation."""
    from columnar_aware_dedup_spark.operators.streaming_parity import (
        _index_served_bit,
    )
    from columnar_aware_dedup_spark.operators.zonemap import (
        stripe_stats_key_table,
    )
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        orc_fixture_dirs,
    )
    from columnar_aware_dedup_spark.streaming import statskeys

    store_dir, _ = orc_fixture_dirs(sf_dir)
    rows = stripe_stats_key_table(spark, store_dir)
    tbl = statskeys.init_statskey_table(spark, "test_statskey_bit")
    statskeys.merge_statskey_delta(spark, rows, tbl)
    assert _index_served_bit(spark, spark.table(tbl), tbl) is True
    # the in-plan substitute reads the fixture .orc bytes, not the table
    assert _index_served_bit(spark, rows, tbl) is False
    # a file-less frame must not vacuously pass
    assert (
        _index_served_bit(spark, spark.createDataFrame([], "x int"), tbl)
        is False
    )


def test_marker_append_is_atomic_and_dotfile_invisible(spark):
    """The r10 driver-side marker append (streaming/commitlog.py): a
    committed marker row is visible after refresh; a crash MID-WRITE —
    simulated by planting a half-written dot-prefixed staging file —
    is invisible to Spark's listing (dot-files are never picked up), so
    a torn parquet footer can never poison the commits read."""
    import os

    from columnar_aware_dedup_spark.sources.store import (
        drop_table_and_dir,
        table_location,
    )
    from columnar_aware_dedup_spark.streaming.commitlog import (
        append_marker_row,
    )

    tbl = "test_marker_atomic"
    # drop_table_and_dir, not bare DROP: a prior run's planted dot-file
    # keeps the managed location alive after DROP TABLE, and re-creating
    # over an existing location is a LOCATION_ALREADY_EXISTS error
    drop_table_and_dir(spark, tbl)
    spark.createDataFrame([], "attempt_id string").write.format(
        "parquet"
    ).mode("overwrite").saveAsTable(tbl)

    append_marker_row(spark, tbl, "attempt-1")
    assert [r["attempt_id"] for r in spark.table(tbl).collect()] == [
        "attempt-1"
    ]

    # crash mid-write: a garbage dot-file in the table dir (what a died
    # writer leaves before the rename) must not break or pollute reads
    loc = table_location(spark, tbl).removeprefix("file:")
    with open(os.path.join(loc, ".part-torn-marker.parquet"), "wb") as fh:
        fh.write(b"\x00\x01 not a parquet footer")
    spark.catalog.refreshTable(tbl)
    assert [r["attempt_id"] for r in spark.table(tbl).collect()] == [
        "attempt-1"
    ]
    append_marker_row(spark, tbl, "attempt-2")
    assert sorted(
        r["attempt_id"] for r in spark.table(tbl).collect()
    ) == ["attempt-1", "attempt-2"]


def test_statskey_parquet_two_level_fold_serves_column_certificate(
    spark, sf_dir
):
    """The maintainer is format-agnostic at BOTH granularities: folding
    the parquet store's level-tagged rows (row groups + column chunks,
    one footer walk) into the two-level maintained table and serving the
    parquet column-fallback certificate from it must equal the batch
    ``parquet_stats_pruned_columns`` output row-for-row, with a replay
    that appends zero. (The ORC legs hold the driver seats; this pins
    the fourth format x granularity cell without burning one.)"""
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.operators.zonemap import (
        _column_fallback_probe,
        parquet_stats_pruned_columns,
        parquet_two_level_table,
        stats_pruned_certificate,
    )
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        parquet_fixture_dirs,
        parquet_strmod_incoming_dir,
    )
    from columnar_aware_dedup_spark.streaming import statskeys
    from tests.conftest import rows_equal

    store_dir, incoming_dir = parquet_fixture_dirs(sf_dir)
    tbl = statskeys.init_statskey_table(
        spark, "test_statskey_pq_two_level", two_level=True
    )
    rows = parquet_two_level_table(spark, store_dir).localCheckpoint(
        eager=False
    )
    assert statskeys.merge_statskey_delta(spark, rows, tbl) > 0
    assert statskeys.merge_statskey_delta(spark, rows, tbl) == 0
    served = spark.table(tbl).localCheckpoint(eager=False)
    inc = (
        parquet_two_level_table(spark, incoming_dir)
        .unionByName(
            parquet_two_level_table(
                spark, parquet_strmod_incoming_dir(sf_dir)
            )
        )
        .localCheckpoint(eager=False)
    )
    cert = stats_pruned_certificate(
        _column_fallback_probe(
            inc.filter(F.col("level") == "region").drop("level"),
            served.filter(F.col("level") == "region").drop("level"),
            inc.filter(F.col("level") == "column").drop("level"),
            served.filter(F.col("level") == "column").drop("level"),
        )
    )
    assert rows_equal(cert, parquet_stats_pruned_columns(spark, sf_dir))


def _sketch_family(spark, name):
    """(init, merge, served, partial tables) of the sketch family."""
    from columnar_aware_dedup_spark.streaming import sketches as sk

    def served():
        return (
            sorted(tuple(r) for r in sk.served_cms(spark, name).collect()),
            sorted(tuple(r) for r in sk.served_hll(spark, name).collect()),
        )

    return (
        lambda: sk.init_sketch_tables(spark, name),
        lambda d: sk.merge_sketches(spark, d, name),
        served,
        [name + s for s in ("_seen", "_cms", "_hll")],
    )


def _bm25_family(spark, name):
    """(init, merge, served, partial tables) of the document BM25 family."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        init_bm25_tables,
    )
    from columnar_aware_dedup_spark.streaming import bm25 as sbm25
    from columnar_aware_dedup_spark.streaming.commitlog import committed

    def served():
        stats = committed(spark, name, "_stats").groupBy().sum(
            "n_docs", "n_dl_docs", "dl_sum"
        )
        return (
            sorted(tuple(r) for r in bm25_from_index(spark, name).collect()),
            tuple(stats.collect()[0]),
        )

    return (
        lambda: init_bm25_tables(spark, name),
        lambda d: sbm25.merge_bm25_delta(spark, d, name),
        served,
        [name + s for s in ("", "_docs", "_stats")],
    )


@pytest.mark.parametrize("family", [_sketch_family, _bm25_family],
                         ids=["sketch", "bm25"])
def test_crash_before_commit_marker_is_invisible_and_swept(
    spark, sf_dir, monkeypatch, family
):
    """Crash the REAL transaction (``commitlog.commit``) at its last step:
    the commit marker raises, so every data append of the attempt has
    already landed. Serving must not see them, and the next (sweeping)
    merge of the same batch must count the same documents, physically
    remove the dead attempt and serve what a clean build serves."""
    from columnar_aware_dedup_spark.streaming import commitlog

    name = f"test_crash_{family.__name__.strip('_')}"
    init, merge, served, partials = family(spark, name)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 != 0)
    init()
    assert merge(wave1) > 0
    before = served()

    real = commitlog.append_marker_row

    def crashing(spark_, table, attempt_id):
        if table.endswith("_commits"):
            raise RuntimeError("crashed before the commit marker")
        real(spark_, table, attempt_id)

    monkeypatch.setattr(commitlog, "append_marker_row", crashing)
    with pytest.raises(RuntimeError, match="commit marker"):
        merge(wave2)
    monkeypatch.undo()

    for t in (*partials, f"{name}_attempts", f"{name}_commits"):
        spark.catalog.refreshTable(t)
    (dead,) = [
        r["attempt_id"]
        for r in spark.table(f"{name}_attempts")
        .join(spark.table(f"{name}_commits"), "attempt_id", "left_anti")
        .collect()
    ]

    def debris():
        return sum(
            spark.table(t).filter(F.col("attempt_id") == dead).count()
            for t in partials
        )

    # the data appends ran before the crash, and none of them is served
    assert debris() > 0
    assert served() == before

    assert merge(wave2) == wave2.count()
    assert debris() == 0
    got = served()

    init()
    merge(wave1)
    merge(wave2)
    assert got == served()
