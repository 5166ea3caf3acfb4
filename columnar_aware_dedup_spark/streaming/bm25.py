"""Continuous BM25-index maintenance: new documents stream in, their
dl-denormalized postings append to the term-bucketed index and the corpus
stats advance by appended exact-integer partials — the ranked-retrieval
twin of the postings maintainer (``streaming/indexer.py``), completing the
house rule that every persisted index has an idempotent delta path (the
store persistence the rule generalizes lives in the reference's receiver
fields, ``orc/net/StripePlusColumnORCReceiver.java:41-44``, and the server
receive loop, ``net/SpeedupServer.java:66-81``).

Atomic-commit protocol (the ``streaming/sketches.py`` pattern — this
merge appends to THREE tables, and plain parquet gives no cross-table
atomicity): every row of a merge carries a fresh ``attempt_id``; readers
(``retrieval.bm25_from_index``) and the dedup anti-join only honor rows
whose attempt reached ``{table}_commits`` — appended LAST as the single-
table publication point. A crash between appends leaves invisible debris
(physically reclaimed by :func:`sweep_uncommitted_bm25` at the next
merge); the checkpoint replay re-derives the same documents under a NEW
attempt and only that one commits.

Idempotence: the ``{table}_docs`` registry records EVERY indexed document
— including token-less ones, which carry no postings but do count into
the corpus size idf reads — and each batch anti-joins against its
COMMITTED rows, so at-least-once file delivery can neither double-count a
document's postings nor inflate N/avgdl. The stats table is append-only
per-attempt partials (sums, not averages, so they compose without
drift); serving derives df from the bucket-pruned postings at query
time, so there is no per-term table to rewrite here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.retrieval import (
    batch_bm25_postings,
    committed_bm25,
    corpus_stats,
    doc_lengths,
)
from columnar_aware_dedup_spark.streaming import fold

#: suffixes of the partial-row tables the commit protocol guards.
_PARTIAL_SUFFIXES = ("", "_docs", "_stats")


def sweep_uncommitted_bm25(spark: SparkSession, table_name: str) -> int:
    """Physically remove crash debris from the three partial tables.
    Called under the store lock at the start of each merge — cheap when
    nothing crashed, because the shared implementation
    (``streaming/commitlog.py::sweep_uncommitted``) answers "any debris?"
    from the attempts/commits manifests alone and reclaims through the
    crash-safe staged swap (preserving the postings table's
    term-bucketing spec via the catalog)."""
    from columnar_aware_dedup_spark.streaming import commitlog

    return commitlog.sweep_uncommitted(
        spark,
        [table_name + s for s in _PARTIAL_SUFFIXES],
        table_name + "_commits",
        table_name + "_attempts",
    )


def merge_bm25_delta(
    spark: SparkSession, docs: DataFrame, table_name: str, sweep: bool = True
) -> int:
    """Idempotently fold one batch of documents into the BM25 index;
    returns the number of NEW documents indexed (module doc has the
    commit protocol and the replay argument). ``sweep=False`` skips the
    per-merge debris reclaim — debris is invisible to readers regardless
    (the commits semi-join), so a caller that just initialized the tables
    empty (the parity certificates) or batches reclaim to one final sweep
    loses space-accounting, never correctness."""
    return _merge_bm25(
        spark, docs, table_name, sweep,
        lambda d: (batch_bm25_postings(d), doc_lengths(d)),
        ("doc_id",),
    )


def merge_passage_bm25_delta(
    spark: SparkSession, docs: DataFrame, table_name: str, sweep: bool = True
) -> int:
    """:func:`merge_bm25_delta` for the PASSAGE index
    (``retrieval.write_passage_bm25_index``'s layout, r11): the delta
    unit stays the DOCUMENT — a doc's passages derive from its text
    alone, so they land (or replay away) atomically with it, and the
    idempotence anti-join keys on doc_id against the passage registry's
    doc_id column. Postings/registry rows carry the widened
    (doc_id, passage_idx) key; the stats partials are passage-scoped and
    both frames derive from the ONE checkpointed window derivation
    (``retrieval.passage_bm25_frames``)."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        passage_bm25_frames,
    )

    return _merge_bm25(
        spark, docs, table_name, sweep, passage_bm25_frames,
        ("doc_id", "passage_idx"),
    )


def _merge_bm25(
    spark: SparkSession,
    docs: DataFrame,
    table_name: str,
    sweep: bool,
    frames_of,
    keys: tuple[str, ...],
) -> int:
    """The one commit-protocol merge behind both granularities — the
    layouts differ only in the item key the ``frames_of`` builder emits
    (one call -> (postings, registry), so a granularity whose two frames
    share a derivation pays it once), while the protocol (manifest
    first, attempt-tagged appends, marker commit last) and the replay
    discipline are written once."""
    import uuid

    tables = [
        table_name + s for s in (*_PARTIAL_SUFFIXES, "_attempts", "_commits")
    ]
    with fold.locked(spark, table_name, *tables):
        if sweep:
            sweep_uncommitted_bm25(spark, table_name)
        seen = committed_bm25(spark, table_name, "_docs").select("doc_id")
        # dropDuplicates: a file AND its at-least-once replay can land in
        # the SAME micro-batch (both present before the stream's first
        # trigger), where the registry anti-join cannot see them — without
        # the intra-batch dedup that doc's tf doubles and N/avgdl inflate
        # permanently. localCheckpoint, NOT persist: the anti-join's
        # lineage reads the registry table this merge appends to, and an
        # insert invalidates caches over the inserted table — a persisted
        # `fresh` silently recomputes as EMPTY after the registry append
        # (observed: the old single-row stats went (old_n, NULL, NULL)
        # because sum-of-empty is NULL). Checkpointing severs the lineage
        # so the batch's delta is pinned before any write.
        fresh = (
            docs.dropDuplicates(["doc_id"])
            .join(seen, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        n = fresh.count()
        if not n:
            return 0
        attempt = uuid.uuid4().hex
        # manifest first (the protocol's step zero): a crash anywhere past
        # this line is detectable from the attempts/commits diff alone
        from columnar_aware_dedup_spark.streaming.commitlog import (
            append_driver_rows,
            record_attempt,
        )

        record_attempt(spark, table_name + "_attempts", attempt)
        tag = F.lit(attempt).alias("attempt_id")
        postings, registry = frames_of(fresh)
        registry_delta = registry.select(*keys, "dl", tag)
        fold.laid_out(
            spark, postings.select("term", *keys, "tf", "dl", tag), table_name
        ).write.format("parquet").mode("append").insertInto(table_name)
        registry_delta.write.format("parquet").mode("append").insertInto(
            table_name + "_docs"
        )
        # the stats partial is ONE aggregated row per merge — write it
        # driver-side like the markers (r11 optimization; the Delta-
        # commit-file discipline: metadata-sized appends cost no
        # distributed job — was a full shuffle + write job, ~0.3 s/merge)
        srow = (
            corpus_stats(registry_delta)
            .select(tag, "n_docs", "n_dl_docs", "dl_sum")
            .collect()[0]
        )
        import pyarrow as pa

        append_driver_rows(
            spark,
            table_name + "_stats",
            pa.table(
                {
                    "attempt_id": pa.array([srow["attempt_id"]], pa.string()),
                    "n_docs": pa.array([srow["n_docs"]], pa.int64()),
                    "n_dl_docs": pa.array([srow["n_dl_docs"]], pa.int64()),
                    "dl_sum": pa.array([srow["dl_sum"]], pa.int64()),
                }
            ),
        )
        # the publication point: everything above becomes visible in this
        # one single-table marker append (driver-side atomic rename — the
        # commit-file discipline, streaming/commitlog.py)
        from columnar_aware_dedup_spark.streaming.commitlog import (
            append_marker_row,
        )

        append_marker_row(spark, table_name + "_commits", attempt)
        for t in tables:
            spark.catalog.refreshTable(t)
        return n


def start_bm25_indexer(
    spark: SparkSession,
    docs_dir: str,
    table_name: str,
    checkpoint: str,
) -> "object":
    """File-source stream over documents-schema parquet -> BM25 merges.

    ``availableNow`` drains everything present then stops (the
    test/backfill trigger); a deployment drops the trigger for continuous
    tailing. The index tables must exist (seed them with
    ``retrieval.write_bm25_index`` over the initial corpus)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_bm25_delta(spark, batch, table_name),
        checkpoint,
    )


def merge_doc_vectors_delta(
    spark: SparkSession, docs: DataFrame, table_name: str
) -> int:
    """Idempotently fold one batch's hashing-trick doc vectors into the
    dense serving table (``retrieval.write_doc_vector_index``); returns
    new vectors appended. Single-table and per-doc independent, so ONE
    consuming append is the whole transaction — the pqcodes shape, no
    commit protocol needed: a crash loses the un-appended batch, and the
    replay's anti-join sees exactly the pre-crash state."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        _doc_hash_vectors_of,
    )

    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: same intra-batch replay guard as merge_bm25_delta
        # (a doc twice in one batch would append two vector rows).
        return fold.append_new(
            spark, _doc_hash_vectors_of(docs.dropDuplicates(["doc_id"])),
            table_name, "doc_id",
        )
