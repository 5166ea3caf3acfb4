"""Continuous substring-span index maintenance: new documents stream in,
their hashed 5-token spans merge into a span-bucketed table — the
substring-dedup twin of the postings indexer (``streaming/indexer.py``).

Why it exists: ``operators.text.dup_span_fraction`` answers "how much of
this document exists verbatim elsewhere" with a full-corpus scan. At 100 TB
with a daily crawl delta, re-scanning the corpus per delta is the naive
plan; the span index pays only the delta — each micro-batch derives its own
documents' (span_hash, doc_id) rows and appends them idempotently (an
anti-join on doc_id makes at-least-once file delivery and checkpoint
replays no-ops). The maintained table then serves the SAME duplicated-span
verdicts as the batch scan (proven result-identical in
``tests/test_streaming.py``), and new documents can be scored against the
whole history by probing only their own spans' buckets.

Layout: bucketed by span (like the postings table by term), so the
corpus-count aggregation is exchange-free on the index side and
``sources.store.compact_store(key='span', dedupe=False)`` maintains it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.text import _NORM_SPARK, _SPANS_SPARK
from columnar_aware_dedup_spark.streaming import fold


def init_span_table(spark: SparkSession, table_name: str) -> str:
    """(Re-)create the empty bucketed span table — the ONE place the span
    index's physical layout is written down (the ``lsh.init_band_table``
    pattern): ``bucketBy(8, 'span')`` is the layout contract that keeps the
    corpus-count aggregation exchange-free on the index side. Re-init of a
    layout-matching table goes through TRUNCATE (r11 — the
    ``init_bm25_tables`` discipline); crash debris otherwise cleaned
    through the catalog-resolving ``store.drop_table_and_dir`` inside the
    shared init."""
    return fold.init_tables(
        spark, table_name, {"": ("span string, doc_id long", True)}, 8,
        "span",
    )


def batch_spans(docs: DataFrame) -> DataFrame:
    """(span, doc_id) rows — each doc's DISTINCT md5-hashed 5-token spans —
    for one batch of documents-schema rows."""
    return (
        docs.withColumn("norm", F.expr(_NORM_SPARK))
        .withColumn("toks", F.split("norm", " "))
        .select("doc_id", F.explode(F.expr(_SPANS_SPARK)).alias("span"))
    )


def merge_spans(spark: SparkSession, docs: DataFrame, table_name: str) -> int:
    """Idempotently merge one batch's spans; returns rows appended.

    Documents already indexed are dropped whole (the indexer discipline):
    a replayed file re-derives the identical span set, so skipping the doc
    keeps per-span doc counts exact."""
    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: intra-batch replay guard — a doc twice in one
        # batch would double its span rows.
        return fold.append_new(
            spark, batch_spans(docs.dropDuplicates(["doc_id"])), table_name,
            "doc_id",
        )


def dup_fraction_from_index(spark: SparkSession, table_name: str) -> DataFrame:
    """The ``dup_span_fraction`` verdict table served from the maintained
    index instead of a corpus scan — result-identical over the same corpus
    (asserted in tests). The span-bucketed layout keeps the corpus-count
    aggregation exchange-free on the index side; only the (span, doc_id)
    probe rows shuffle."""
    spans = spark.table(table_name)
    counts = spans.groupBy("span").agg(F.count("*").alias("n_docs"))
    dup = (F.col("n_docs") >= 2).cast("int")
    frac = F.sum(dup).cast("double") / F.count("*")
    return (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).cast("bigint").alias("n_dup_spans"),
            F.round(frac, 6).alias("dup_frac"),
            (frac < 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


def start_span_indexer(
    spark: SparkSession, docs_dir: str, table_name: str, checkpoint: str
) -> "object":
    """File-source stream over documents-schema parquet -> span merges
    (``fold.start``)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_spans(spark, batch, table_name),
        checkpoint,
    )
