"""Continuous inverted-index maintenance: new documents stream in, their
postings merge into the term-bucketed index — the search-side twin of the
chunk-store ingest (``streaming/ingest.py``).

A batch re-index of a 100 TB corpus per documents-delta is the naive
alternative; the streaming indexer pays only the delta: each micro-batch
tokenizes its own documents, aggregates (term, doc_id, tf) postings, and
appends them idempotently — an anti-join on doc_id drops postings of
documents the index has already seen, so at-least-once file delivery (or a
checkpoint replay) cannot double-count a document's terms. Writers serialize
on the store lock, and the table keeps the term-bucketed layout that makes
:func:`columnar_aware_dedup_spark.operators.search.search_with_index` probe
with a zero-shuffle index side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.text import _NORM_SPARK
from columnar_aware_dedup_spark.streaming import fold


def batch_postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf) for one batch of documents-schema rows."""
    return (
        docs.withColumn("norm", F.expr(_NORM_SPARK))
        .select("doc_id", F.explode(F.split("norm", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def merge_postings(
    spark: SparkSession, docs: DataFrame, table_name: str
) -> int:
    """Idempotently merge one batch's postings; returns postings appended.

    Documents already indexed (any posting with their doc_id present) are
    dropped whole — a replayed file re-derives identical postings, so
    skipping the doc entirely keeps tf exact. The anti-join's build side is
    the DISTINCT indexed doc_id set, not the postings table."""
    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: a file and its at-least-once replay can land in
        # the SAME micro-batch, invisible to the seen anti-join — without
        # the intra-batch dedup that doc's tf doubles.
        return fold.append_new(
            spark, batch_postings(docs.dropDuplicates(["doc_id"])),
            table_name, "doc_id",
        )


def start_indexer(
    spark: SparkSession,
    docs_dir: str,
    table_name: str,
    checkpoint: str,
) -> "object":
    """File-source stream over documents-schema parquet -> postings merges
    (``fold.start``). The index table must exist (create it with
    ``operators.search.write_postings_index`` or an empty frame)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_postings(spark, batch, table_name),
        checkpoint,
    )
