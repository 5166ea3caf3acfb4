"""Bucketed signature store: layout, idempotent merge, shuffle-free probe."""

from __future__ import annotations

from pyspark.sql import functions as F

from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.operators.dedup import lineitem_chunks
from columnar_aware_dedup_spark.plans import explain
from columnar_aware_dedup_spark.sources import store

from tests.conftest import jobs_in, rows_equal, spark_conf

TABLE = "test_chunk_store"


def _chunks(spark, sf_dir):
    return lineitem_chunks(table(spark, sf_dir, "lineitem")).withColumn(
        "chunk_type", F.lit("Row")
    )


def _broadcast_threshold(spark, value):
    """Run under ``spark.sql.autoBroadcastJoinThreshold=value``; the store
    is read bucketed only above the threshold, so ``"-1"`` keeps a small
    test store on its bucket layout."""
    return spark_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": value})


def test_store_roundtrip_and_merge(spark, sf_dir):
    chunks = _chunks(spark, sf_dir)
    half = chunks.filter(F.col("file_id") % 2 == 0)
    store.create_store(spark, half, TABLE, n_buckets=8)
    n0 = spark.table(TABLE).count()
    assert n0 == half.select("signature").distinct().count()

    # merging the same chunks again adds nothing (idempotent)
    assert store.merge_into_store(spark, half, TABLE) == 0
    # merging the full set adds only the new signatures
    added = store.merge_into_store(spark, chunks, TABLE)
    assert added > 0
    total = spark.table(TABLE).count()
    assert total == n0 + added
    assert (
        spark.table(TABLE).select("signature").distinct().count() == total
    ), "store must stay signature-unique"


import pytest


@pytest.mark.parametrize(
    "backend",
    [store.MkdirLockBackend(), store.ConditionalPutLockBackend()],
    ids=["mkdir", "conditional-put"],
)
def test_concurrent_merges_never_double_append(
    spark, sf_dir, backend, monkeypatch
):
    """Eight writers racing overlapping chunk sets into one store must leave
    it signature-unique with exactly the union of signatures — the r02
    single-writer caveat, removed by the store_lock serialization. Without
    the lock, two writers observe the same signature missing and both
    append it (probabilistically reproduced before the fix). Parameterized
    over both lock backends: the default mkdir mutex and the
    object-store-shaped conditional-put mutex."""
    from concurrent.futures import ThreadPoolExecutor

    monkeypatch.setattr(store, "DEFAULT_LOCK_BACKEND", backend)

    chunks = _chunks(spark, sf_dir)
    seed = chunks.filter(F.col("file_id") % 7 == 0)
    store.create_store(spark, seed, TABLE, n_buckets=8)
    n0 = spark.table(TABLE).count()

    # 8 overlapping slices: slice k = files with id % 4 == k % 4 (each slice
    # raced by two threads, plus cross-slice signature overlap).
    slices = [chunks.filter(F.col("file_id") % 4 == k % 4) for k in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        appended = list(
            ex.map(lambda s: store.merge_into_store(spark, s, TABLE), slices)
        )

    total = spark.table(TABLE).count()
    distinct = spark.table(TABLE).select("signature").distinct().count()
    assert distinct == total, "concurrent merges double-appended signatures"
    assert total == n0 + sum(appended)
    want = chunks.unionByName(seed).select("signature").distinct().count()
    assert total == want


@pytest.mark.parametrize(
    "backend",
    [store.MkdirLockBackend(), store.ConditionalPutLockBackend()],
    ids=["mkdir", "conditional-put"],
)
def test_store_lock_times_out_and_steals_stale(spark, tmp_path, backend):
    """The lock raises after timeout while held, and a stale (dead-writer)
    lock is stolen instead of deadlocking forever — under both backends."""
    import os
    import time

    with store.store_lock(spark, TABLE, backend=backend):
        with pytest.raises(store.StoreLockTimeout):
            with store.store_lock(spark, TABLE, timeout=0.3, backend=backend):
                pass
    # simulate a dead writer: pre-create the lock object with an old mtime
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    lock_path = f"{warehouse}/{TABLE.lower()}__lock"
    assert backend.try_acquire(lock_path)
    old = time.time() - 10_000
    os.utime(lock_path, (old, old))
    with store.store_lock(spark, TABLE, timeout=5.0, stale_after=600.0,
                          backend=backend):
        pass  # acquired by stealing the stale lock
    assert not os.path.exists(lock_path)


def test_probe_results_match_unbucketed(spark, sf_dir):
    chunks = _chunks(spark, sf_dir)
    half = chunks.filter(F.col("file_id") % 2 == 0)
    store.create_store(spark, half, TABLE, n_buckets=8)
    classified = store.probe_store(spark, chunks, TABLE)
    # every chunk whose signature appears in the stored half must hit
    store_sigs = {r["signature"] for r in half.select("signature").distinct().collect()}
    for r in classified.collect():
        assert r["hit"] == (r["signature"] in store_sigs)


def test_two_granularity_backfill(spark, sf_dir):
    """A stripe MISS in batch 1 must index the stripe at both granularities,
    so batch 2's COLUMN probes hit even though its stripes differ
    (``orc/net/StripePlusColumnORCReceiver.java:198-226``)."""
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        linked_chunk_files,
        orc_fixture_dirs,
    )

    store_dir, incoming_dir = orc_fixture_dirs(sf_dir)
    backfill_table = "test_backfill_store"

    # batch 0: an empty store; batch 1: the store snapshot's linked chunks
    # arrive (every stripe misses) and are merged at both granularities.
    batch1 = linked_chunk_files(spark, store_dir)
    empty = batch1.limit(0)
    store.create_store(spark, store.linked_store_rows(empty), backfill_table, n_buckets=8)
    added = store.merge_linked_into_store(spark, batch1, backfill_table)
    assert added > 0
    by_type = {
        r["chunk_type"]: r["n"]
        for r in spark.table(backfill_table)
        .groupBy("chunk_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_type.get("Stripe", 0) > 0, "stripe granularity must be indexed"
    assert by_type.get("StripeSubchunk", 0) > 0, "column granularity must be indexed"

    # batch 2: the one-column-modified file — its stripes miss, but its
    # unchanged columns must HIT thanks to the batch-1 backfill.
    mod = linked_chunk_files(spark, incoming_dir).filter(
        F.col("file").contains("lineitem_mod")
    )
    stripe_probe = store.probe_store(
        spark, mod.filter(F.col("chunk_type") == "Stripe"), backfill_table
    )
    missed = stripe_probe.filter(~F.col("hit"))
    assert missed.count() > 0, "modified stripes should miss at stripe level"
    col_probe = store.probe_store(
        spark,
        missed.select(F.explode("subchunks").alias("s")).select(
            F.col("s.signature").alias("signature")
        ),
        backfill_table,
    )
    assert col_probe.filter(F.col("hit")).count() > 0, (
        "backfilled column signatures must make later column probes hit"
    )
    # idempotence across granularities
    assert store.merge_linked_into_store(spark, batch1, backfill_table) == 0


def test_probe_shuffles_only_incoming(spark, sf_dir):
    """The scale property: the bucketed store side joins without an
    exchange — only the incoming chunk table shuffles."""
    chunks = _chunks(spark, sf_dir)
    store.create_store(spark, chunks, TABLE, n_buckets=8)
    with _broadcast_threshold(spark, "-1"):
        classified = store.probe_store(spark, chunks, TABLE)
        plan = explain.plan_string(classified, "formatted")
        n = explain.n_exchanges(classified)
    # incoming side: 1 (repartition inside lineitem_chunks) + 1 (join key);
    # the store side must contribute ZERO exchanges (bucket-aligned distinct
    # + join). More than 2 total means the bucket layout stopped being used.
    assert n <= 2, f"store side re-shuffled ({n} exchanges):\n{plan}"


def test_broadcast_sized_store_is_read_as_plain_splits(
    spark, sf_dir, monkeypatch
):
    """A store that fits the broadcast threshold is broadcast anyway, so
    the probe and a merge read it as plain file splits: no stage wider
    than ``defaultParallelism`` (a bucketed scan is one task per bucket)
    and no ``Bucketed: true`` scan — with the same results as the
    bucketed read the same calls make under threshold -1."""
    from columnar_aware_dedup_spark.streaming import fold

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    chunks = _chunks(spark, sf_dir)
    half = chunks.filter(F.col("file_id") % 2 == 0)
    plain, bucketed = "test_store_plain_read", "test_store_bucketed_read"
    for tbl in (plain, bucketed):
        store.create_store(spark, half, tbl, n_buckets=4 * cores)

    def widest_stage(group, action):
        result, jobs = jobs_in(spark, group, action)
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(s)
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
        ]
        return result, max(s.numTasks for s in stages if s)

    probe = store.probe_store(spark, chunks, plain)
    assert "Bucketed: true" not in explain.plan_string(probe, "formatted")
    got, width = widest_stage("plain_probe", probe.collect)
    assert width <= cores, f"probe ran a {width}-task stage on {cores} cores"
    with _broadcast_threshold(spark, "-1"):
        want = store.probe_store(spark, chunks, bucketed)
    assert sorted(got) == sorted(want.collect())

    anti_joins = []
    laid_out = fold.laid_out
    monkeypatch.setattr(
        fold,
        "laid_out",
        lambda s, rows, t: laid_out(s, anti_joins.append(rows) or rows, t),
    )
    n, width = widest_stage(
        "plain_merge", lambda: store.merge_into_store(spark, chunks, plain)
    )
    assert width <= cores, f"merge ran a {width}-task stage on {cores} cores"
    plan = explain.plan_string(anti_joins[-1], "formatted")
    assert "Bucketed: true" not in plan, plan
    with _broadcast_threshold(spark, "-1"):
        assert store.merge_into_store(spark, chunks, bucketed) == n > 0
    assert rows_equal(spark.table(plain), spark.table(bucketed))


def test_compact_store_collapses_files_and_keeps_buckets(spark, sf_dir):
    """After repeated merges the store accretes a file per merge per bucket;
    compaction must collapse to one file per bucket, preserve the exact
    signature set, and keep the layout that lets probes skip the store-side
    shuffle."""
    tbl = "test_compact_store"
    chunks = _chunks(spark, sf_dir)
    sigs = chunks.select("signature").distinct()
    parts = [
        chunks.filter(F.crc32(F.col("signature")) % 4 == i) for i in range(4)
    ]
    store.create_store(spark, parts[0], tbl, n_buckets=8)
    for p in parts[1:]:
        assert store.merge_into_store(spark, p, tbl) > 0

    want = {r["signature"] for r in sigs.collect()}
    before, after = store.compact_store(spark, tbl, n_buckets=8)
    assert before > 8, f"merges should leave >1 file per bucket ({before})"
    assert after == 8, f"one file per bucket expected, got {after}"
    got = {r["signature"] for r in spark.table(tbl).collect()}
    assert got == want, "compaction must not change the signature set"

    # the rewritten table still probes without a store-side exchange
    with _broadcast_threshold(spark, "-1"):
        classified = store.probe_store(spark, chunks, tbl)
        assert explain.n_exchanges(classified) <= 2, explain.plan_string(
            classified, "formatted"
        )


def test_compact_generalizes_to_postings_index(spark, sf_dir, tmp_path):
    """The same compaction maintains the streaming postings index: after
    incremental merges leave multiple files, compacting on term (no dedupe —
    (term, doc_id) rows are unique and must survive) collapses files,
    preserves every posting, and keeps index-served search identical."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators import search
    from columnar_aware_dedup_spark.streaming import indexer

    tbl = "test_compact_postings"
    import shutil as _sh

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    _sh.rmtree(f"{warehouse}/{tbl.lower()}", ignore_errors=True)
    (
        spark.createDataFrame([], "term string, doc_id long, tf long")
        .write.format("parquet")
        .bucketBy(8, "term")
        .sortBy("term")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    third = t.num_rows // 3
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for i in range(3):
        lo, hi = i * third, (i + 1) * third if i < 2 else t.num_rows
        batch = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        assert indexer.merge_postings(spark, batch, tbl) > 0

    want = spark.table(tbl).count()
    before, after = store.compact_store(spark, tbl, n_buckets=8, key="term", dedupe=False)
    assert before > 8 and after == 8, (before, after)
    assert spark.table(tbl).count() == want, "every posting must survive"
    via_index = search.search_with_index(spark, tbl)
    via_scan = search.inverted_index_search(spark, sf_dir)
    assert rows_equal(via_index, via_scan)


def _crash_compaction_mid_swap(spark, tbl, n_buckets=8):
    """Replicate compact_store up to the crash window: the compacted
    ``__compacting`` table is fully written and the canonical name has been
    renamed aside, but the rename-in never ran (the process 'died' between
    store.py's two ALTER TABLE RENAMEs)."""
    import shutil

    tmp, aside = f"{tbl}__compacting", f"{tbl}__precompact"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    location = store._store_location(spark, tbl)
    for t in (tmp, aside):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t.lower()}", ignore_errors=True)
    (
        spark.read.parquet(location)
        .dropDuplicates(["signature"])
        .repartition(n_buckets, "signature")
        .write.bucketBy(n_buckets, "signature")
        .sortBy("signature")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(tmp)
    )
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {aside}")
    # -- crash: canonical name unbound, both versions intact --


def _build_appended_store(spark, sf_dir, tbl):
    chunks = _chunks(spark, sf_dir)
    parts = [
        chunks.filter(F.crc32(F.col("signature")) % 4 == i) for i in range(4)
    ]
    store.create_store(spark, parts[0], tbl, n_buckets=8)
    for p in parts[1:]:
        store.merge_into_store(spark, p, tbl)
    return {r["signature"] for r in chunks.select("signature").distinct().collect()}


def test_compaction_crash_recovery_prefers_new(spark, sf_dir):
    """Crash between rename-aside and rename-in, then recover the NEW
    (compacted) table: the canonical name rebinds, the signature set is
    exactly the pre-crash set, the one-file-per-bucket layout of the
    compacted table holds, and the debris is gone."""
    tbl = "test_crash_recover_new"
    want = _build_appended_store(spark, sf_dir, tbl)
    _crash_compaction_mid_swap(spark, tbl)
    assert not spark.catalog.tableExists(tbl)

    assert store.recover_compaction(spark, tbl, prefer="new") == "new"
    assert spark.catalog.tableExists(tbl)
    got = {r["signature"] for r in spark.table(tbl).collect()}
    assert got == want
    assert store._n_data_files(store._store_location(spark, tbl)) == 8
    assert not spark.catalog.tableExists(f"{tbl}__precompact")
    assert not spark.catalog.tableExists(f"{tbl}__compacting")
    # recovered store still probes shuffle-free on the store side
    with _broadcast_threshold(spark, "-1"):
        classified = store.probe_store(spark, _chunks(spark, sf_dir), tbl)
        assert explain.n_exchanges(classified) <= 2


def test_compaction_crash_recovery_prefers_old(spark, sf_dir):
    """Same crash, other branch: rebind the OLD (pre-compaction) table —
    the operator's conservative choice — and the store content is exactly
    what every merge had built."""
    tbl = "test_crash_recover_old"
    want = _build_appended_store(spark, sf_dir, tbl)
    _crash_compaction_mid_swap(spark, tbl)

    assert store.recover_compaction(spark, tbl, prefer="old") == "old"
    got = {r["signature"] for r in spark.table(tbl).collect()}
    assert got == want
    assert not spark.catalog.tableExists(f"{tbl}__compacting")
    # a fresh compaction then completes normally on the recovered table
    before, after = store.compact_store(spark, tbl, n_buckets=8)
    assert after == 8, (before, after)
    assert {r["signature"] for r in spark.table(tbl).collect()} == want


def test_recover_compaction_noop_when_table_bound(spark, sf_dir):
    """If the canonical table is bound (no crash, or a crash before the
    aside rename), recovery is a no-op that only sweeps debris."""
    tbl = "test_crash_recover_noop"
    want = _build_appended_store(spark, sf_dir, tbl)
    # leftover tmp from a crash BEFORE the aside rename
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__compacting")
    spark.table(tbl).limit(1).write.format("parquet").mode(
        "overwrite"
    ).saveAsTable(f"{tbl}__compacting")

    assert store.recover_compaction(spark, tbl) is None
    assert not spark.catalog.tableExists(f"{tbl}__compacting")
    assert {r["signature"] for r in spark.table(tbl).collect()} == want


def test_drop_table_and_dir_cleans_nondefault_database(spark):
    """ADVICE r06: the cleanup helper used to resolve the managed-table
    directory as {warehouse}/{tbl.lower()}, which only matches the DEFAULT
    database layout — a table in another database would lose its catalog
    entry but orphan its {db}.db/{tbl} directory. The helper now resolves
    the location from the catalog before dropping; this pins that a
    qualified table's directory really is removed."""
    import os

    spark.sql("CREATE DATABASE IF NOT EXISTS cleanup_db")
    tbl = "cleanup_db.orphan_check"
    try:
        spark.createDataFrame([(1,)], "x long").write.format("parquet").mode(
            "overwrite"
        ).saveAsTable(tbl)
        rows = spark.sql(f"DESCRIBE FORMATTED {tbl}").collect()
        location = next(
            r["data_type"] for r in rows if r["col_name"] == "Location"
        ).removeprefix("file:")
        assert os.path.isdir(location), "managed table directory must exist"
        # the old warehouse-join derivation points somewhere else entirely
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir"
        ).removeprefix("file:")
        assert location != f"{warehouse}/{tbl.lower()}"

        store.drop_table_and_dir(spark, tbl)
        assert not spark.catalog.tableExists(tbl)
        assert not os.path.exists(location), "{db}.db/{tbl} dir must be gone"

        # never-created table: the fallback path is a silent no-op
        store.drop_table_and_dir(spark, "cleanup_db.never_created")
    finally:
        # a failed assert must not leak the database into the shared
        # session-scoped spark fixture and cascade into other catalog tests
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql("DROP DATABASE IF EXISTS cleanup_db")


def test_merge_defaults_missing_chunk_type(spark):
    """merge_into_store accepts chunk frames without a chunk_type column
    (the flagship's row-chunk tables), defaulting it to 'Row' exactly like
    create_store — insertInto is positional, so a two-column frame must
    never reach the three-column store."""
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.sources import store as store_mod

    tbl = "test_store_ct_default"
    store_mod.drop_table_and_dir(spark, tbl)
    empty = spark.createDataFrame(
        [], "signature string, chunk_type string, size bigint"
    )
    store_mod.create_store(spark, empty, tbl)
    chunks = spark.createDataFrame(
        [("sigA", 10), ("sigB", 20)], "signature string, size bigint"
    )
    assert store_mod.merge_into_store(spark, chunks, tbl) == 2
    rows = spark.table(tbl).collect()
    assert {r["chunk_type"] for r in rows} == {"Row"}
    assert store_mod.merge_into_store(spark, chunks, tbl) == 0  # idempotent
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_width_invalidated_on_recreate(spark):
    """Recreating a table at a NEW bucket count must not leave later delta
    appends repartitioning to the stale memoized spec (ADVICE r11): the
    resolver re-reads the catalog after any path that rebinds the name —
    drop_table_and_dir and create_store's fresh-create branch."""
    tbl = "test_store_width_recreate"
    empty = spark.createDataFrame(
        [], "signature string, chunk_type string, size bigint"
    )
    store.drop_table_and_dir(spark, tbl)
    try:
        store.create_store(spark, empty, tbl, n_buckets=8)
        # memoized now
        assert store.bucket_layout(spark, tbl) == (8, "signature")

        # recreate at a different width through the fresh-create branch
        # (the layout check fails on bucket count, so TRUNCATE-reuse is
        # skipped and the table is dropped + rebuilt)
        store.create_store(spark, empty, tbl, n_buckets=16)
        assert store.bucket_layout(spark, tbl) == (16, "signature")

        # and through an explicit drop + recreate
        store.drop_table_and_dir(spark, tbl)
        store.create_store(spark, empty, tbl, n_buckets=4)
        assert store.bucket_layout(spark, tbl) == (4, "signature")
    finally:
        store.drop_table_and_dir(spark, tbl)


def _bucket_ids(location):
    """Data file name -> the bucket id in its name (None when absent)."""
    import os
    import re

    return {
        f: (m.group(1) if (m := re.search(r"_(\d{5})\.c\d{3}", f)) else None)
        for f in os.listdir(location)
        if f.endswith(".parquet")
    }


def test_replay_merge_leaves_store_files_untouched(spark, sf_dir):
    """A replayed wave appends nothing AND writes nothing: the observed
    insert of zero rows must not leave an empty part file in the store."""
    tbl = "test_store_replay_files"
    store.drop_table_and_dir(spark, tbl)
    try:
        store.create_store(spark, _chunks(spark, sf_dir).limit(0), tbl)
        wave = _chunks(spark, sf_dir).filter(F.col("file_id") % 2 == 0)
        assert store.merge_into_store(spark, wave, tbl) > 0
        location = store._store_location(spark, tbl)
        before = _bucket_ids(location)
        assert store.merge_into_store(spark, wave, tbl) == 0
        after = _bucket_ids(location)
        assert after == before
        assert None not in after.values(), after
    finally:
        store.drop_table_and_dir(spark, tbl)


def test_append_layout_and_observed_count(spark, sf_dir):
    """The fold's write layout is core-sized but bucket-aligned, and the
    count ``append_new`` returns is the table's row-count increase."""
    import collections

    from columnar_aware_dedup_spark.streaming import fold

    tbl = "test_store_layout"
    chunks = _chunks(spark, sf_dir)
    store.drop_table_and_dir(spark, tbl)
    try:
        store.create_store(
            spark, chunks.filter(F.col("file_id") % 3 == 0), tbl
        )
        cores = spark.sparkContext.defaultParallelism
        assert (
            fold.laid_out(spark, chunks, tbl).rdd.getNumPartitions()
            == min(store.DEFAULT_BUCKETS, cores)
        )

        location = store._store_location(spark, tbl)
        before = set(_bucket_ids(location))
        n0 = spark.table(tbl).count()
        # partly in the store already: file_id % 3 == 0 overlaps
        delta = chunks.filter(F.col("file_id") % 3 != 1)
        added = store.merge_into_store(spark, delta, tbl)
        assert added > 0
        assert spark.table(tbl).count() == n0 + added
        new = {
            f: b for f, b in _bucket_ids(location).items() if f not in before
        }
        per_bucket = collections.Counter(new.values())
        assert None not in per_bucket and max(per_bucket.values()) == 1, (
            per_bucket
        )

        non_empty = (
            spark.table(tbl)
            .select(F.pmod(F.hash("signature"), F.lit(store.DEFAULT_BUCKETS)))
            .distinct()
            .count()
        )
        _before, after = store.compact_store(spark, tbl)
        buckets = list(_bucket_ids(store._store_location(spark, tbl)).values())
        assert after == non_empty == len(set(buckets)) == len(buckets)
    finally:
        store.drop_table_and_dir(spark, tbl)


def test_fold_table_create_runs_no_job(spark):
    """Creating an empty fold table is a catalog call with no Spark job
    (an empty-frame ``saveAsTable`` ran a job of ``defaultParallelism``
    Python tasks), and the created layout is the one the spec declares:
    the next init truncates it in place and an append lands in it."""
    from columnar_aware_dedup_spark.streaming import fold

    tbl = "test_fold_create_no_job"
    spec = {"": (store.STORE_SCHEMA, True)}
    store.drop_table_and_dir(spark, tbl)
    try:
        _, jobs = jobs_in(
            spark,
            tbl,
            lambda: fold.init_tables(spark, tbl, spec, 8, "signature"),
        )
        assert jobs == []
        assert store.bucket_spec(spark, tbl) == (8, "signature")
        assert fold.truncate_if_layout_matches(
            spark, tbl, store.STORE_SCHEMA, (8, "signature")
        )
        rows = spark.createDataFrame(
            [("a", "Row", 1), ("b", "Row", 2)], store.STORE_SCHEMA
        )
        assert store.merge_into_store(spark, rows, tbl) == 2
    finally:
        store.drop_table_and_dir(spark, tbl)
