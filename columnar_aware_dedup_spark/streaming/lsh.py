"""Continuous MinHash-LSH index maintenance: new documents stream in, their
band-bucket keys merge into a bucketed table — the near-dup twin of the
postings indexer (``streaming/indexer.py``) and span index
(``streaming/spans.py``).

Why it exists: ``operators.text.minhash_near_dup`` recomputes signatures
and re-joins the WHOLE corpus's band rows per run. At 100 TB with a daily
crawl delta, that is the naive plan; the maintained bucket index pays only
the delta — each micro-batch derives its own documents' (bucket, band,
doc_id) rows (4 per doc — the same k=8/4-band geometry as the batch query)
and appends them idempotently (an anti-join on doc_id makes at-least-once
file delivery and checkpoint replays no-ops; a doc's band rows are a pure
function of its text, so skipping indexed docs whole keeps bucket contents
exact). The maintained table then serves the SAME candidate-pair table as
the batch query (proven result-identical in ``tests/test_streaming.py``),
and — the daily-delta payoff — a NEW batch can be scored against the whole
history by probing only its own 4·|batch| bucket keys
(:func:`probe_near_dups`), never re-hashing the history.

Layout: the stored key is ONE column, ``bucket = band || ':' || md5(band
slots)`` — the band index folded INTO the key rather than kept as a second
join column. That is what makes the bucketed layout load-bearing: pair
serving is a self-equi-join on exactly the bucket key, and probing is an
equi-join on exactly the bucket key, so a table ``bucketBy(n, 'bucket')``
joins with ZERO exchange on the index side (a two-column join key would
defeat the single-column bucketing and re-shuffle the whole history —
plan-pinned in ``tests/test_streaming.py``). ``band`` rides along as data
for the shared-band count; it is determined by the key, never joined on.
``sources.store.compact_store(key='bucket', dedupe=False)`` maintains the
table as appends accumulate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.text import (
    _band_exprs,
    _minhash_slots_spark,
    _NORM_SPARK,
)
from columnar_aware_dedup_spark.streaming import fold


def init_band_table(spark: SparkSession, table_name: str) -> str:
    """(Re-)create the empty bucketed band table — the ONE place the band
    index's physical layout is written down (previously copy-pasted across
    the parity operator and five streaming tests, which could silently
    diverge from a schema or bucketing change). ``bucketBy(8, 'bucket')``
    is the layout contract: the serve/probe joins run on exactly that key,
    so the index side joins with zero exchange (plan-pinned in
    ``tests/test_streaming.py``). Re-init of a layout-matching table goes
    through TRUNCATE (r11 — the ``init_bm25_tables`` discipline: a Derby
    drop + recreate round trip per certificate run costs more than a
    merge); crash debris otherwise cleaned through the catalog-resolving
    ``store.drop_table_and_dir`` inside the shared init."""
    return fold.init_tables(
        spark, table_name,
        {"": ("bucket string, band int, doc_id long", True)}, 8, "bucket",
    )


def batch_bands(docs: DataFrame) -> DataFrame:
    """(bucket, band, doc_id) rows — each doc's 4 LSH bucket keys under the
    shared k=8-slot / 4-band MinHash — for one batch of documents-schema
    rows. ``bucket`` prefixes the band index, so equal buckets imply equal
    bands and the key alone carries the full collision identity."""
    sigs = (
        docs.withColumn("norm", F.expr(_NORM_SPARK))
        .withColumn("toks", F.split("norm", " "))
        .select("doc_id", *_minhash_slots_spark())
    )
    band_rows = F.array(
        *[
            F.struct(
                F.concat(F.lit(f"{i}:"), F.expr(b)).alias("bucket"),
                F.lit(i).cast("int").alias("band"),
            )
            for i, b in enumerate(_band_exprs())
        ]
    )
    return sigs.select("doc_id", F.explode(band_rows).alias("b")).select(
        "b.bucket", "b.band", "doc_id"
    )


def merge_bands(spark: SparkSession, docs: DataFrame, table_name: str) -> int:
    """Idempotently merge one batch's band rows; returns rows appended.

    Documents already indexed are dropped whole (the indexer discipline):
    a replayed file re-derives the identical 4 band rows, so skipping the
    doc keeps every bucket's membership exact."""
    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: intra-batch replay guard — a doc twice in one
        # batch would double its band rows.
        return fold.append_new(
            spark, batch_bands(docs.dropDuplicates(["doc_id"])), table_name,
            "doc_id",
        )


def near_dup_pairs_from_index(spark: SparkSession, table_name: str) -> DataFrame:
    """The ``minhash_near_dup`` candidate table served from the maintained
    index instead of a corpus re-hash — result-identical over the same
    corpus (asserted in tests). Signatures are never recomputed, and the
    self-join runs on the bucket key both sides arrive bucketed on: the
    index contributes zero exchanges (plan-pinned)."""
    bands = spark.table(table_name)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.countDistinct("a.band").alias("shared_bands"))
    )


def probe_near_dups(
    spark: SparkSession, docs: DataFrame, table_name: str
) -> DataFrame:
    """Score INCOMING documents against the indexed history WITHOUT
    indexing them: (new_doc_id, old_doc_id, shared_bands) for every
    band-bucket collision between the batch and the table — the admission
    gate a crawler runs before deciding to keep a page.

    Scale shape (the store-probe discipline,
    ``tests/test_store.py::test_probe_shuffles_only_incoming``): only the
    batch's own 4·|batch| band rows shuffle; the historical side is
    bucketed on ``bucket`` and joins in place, contributing zero exchanges
    (plan-pinned in ``tests/test_streaming.py``)."""
    probe = batch_bands(docs).alias("p")
    hist = spark.table(table_name).alias("h")
    return (
        probe.join(
            hist,
            (F.col("p.bucket") == F.col("h.bucket"))
            & (F.col("p.doc_id") != F.col("h.doc_id")),
        )
        .groupBy(
            F.col("p.doc_id").alias("new_doc_id"),
            F.col("h.doc_id").alias("old_doc_id"),
        )
        .agg(F.countDistinct("p.band").alias("shared_bands"))
    )


def start_lsh_indexer(
    spark: SparkSession, docs_dir: str, table_name: str, checkpoint: str
) -> "object":
    """File-source stream over documents-schema parquet -> band merges
    (``fold.start``)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_bands(spark, batch, table_name),
        checkpoint,
    )
