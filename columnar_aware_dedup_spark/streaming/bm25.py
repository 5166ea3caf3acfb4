"""Continuous BM25-index maintenance: new documents stream in, their
dl-denormalized postings append to the term-bucketed index and the corpus
stats advance by appended exact-integer partials — the ranked-retrieval
twin of the postings maintainer (``streaming/indexer.py``), completing the
house rule that every persisted index has an idempotent delta path (the
store persistence the rule generalizes lives in the reference's receiver
fields, ``orc/net/StripePlusColumnORCReceiver.java:41-44``, and the server
receive loop, ``net/SpeedupServer.java:66-81``).

Every merge publishes through the commit-marker protocol
(``streaming/commitlog.py``): this index spans THREE partial tables —
postings, the ``{table}_docs`` registry and the ``{table}_stats``
partials — and readers (``retrieval.bm25_from_index``) honor only
committed attempts.

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

from columnar_aware_dedup_spark.operators.retrieval import (
    bm25_frames,
    bm25_partials,
)
from columnar_aware_dedup_spark.operators.search import DOC_KEYS
from columnar_aware_dedup_spark.streaming import commitlog, fold

#: the attempt-tagged tables, the doc-keyed registry first
#: (``commitlog.merge``'s replay guard reads it).
_PARTIALS = ("_docs", "", "_stats")


def merge_bm25_delta(
    spark: SparkSession,
    docs: DataFrame,
    table_name: str,
    sweep: bool = True,
    keys: tuple[str, ...] = DOC_KEYS,
) -> int:
    """Idempotently fold one batch of documents into the BM25 index at the
    granularity ``keys`` (``retrieval.write_bm25_index``'s layout);
    returns the number of NEW documents indexed (the transaction and the
    replay guard are ``commitlog.merge``'s, the frames
    ``retrieval.bm25_frames``'). The delta unit is the DOCUMENT at every
    granularity: a doc's passages derive from its text alone, so they land
    (or replay away) atomically with it, and the idempotence anti-join
    keys on doc_id against the registry's doc_id column. ``sweep=False``
    skips the per-merge debris reclaim — debris is invisible to readers
    regardless (the commits semi-join), so a caller that just initialized
    the tables empty (the parity certificates) or batches reclaim to one
    final sweep loses space-accounting, never correctness."""
    return commitlog.merge(
        spark, table_name, _PARTIALS, docs,
        lambda fresh: bm25_partials(*bm25_frames(fresh, keys)), sweep,
    )


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
