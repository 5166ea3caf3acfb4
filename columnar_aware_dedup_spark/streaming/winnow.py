"""Continuous winnowing-fingerprint index maintenance — the 10th
maintained-index family: new documents stream in, their SELECTED
winnowing hashes (`operators/winnowing.py`, the MOSS selection) merge
into a fingerprint-bucketed class table plus a doc-membership registry,
and the overlap-pair report is served from the maintained tables through
the SAME chain as the batch corpus scan.

Why it exists: ``winnowing_overlap_pairs`` re-selects the whole corpus
per run. At 100 TB with a daily crawl delta the history's selections
never change — only the delta's classes add fingerprint rows — so the
maintained index pays one delta-sized selection per day and the overlap
report joins ~2/(w+1) of the gram stream from a bucketed table instead
of re-hashing history.

Idempotence is PER TABLE, which is what makes the two-table append
crash-safe without a manifest: the fingerprint rows anti-join on class
signature (``tsig``) and the membership rows anti-join on ``doc_id``,
each against its OWN table, and both fresh sets are derived from the
full batch (not from "docs the registry hasn't seen") — so a crash
between the two appends, replayed, converges: whichever table already
holds its rows appends zero, the other catches up. A replayed wave
appends zero rows to both (certified).

Layout: fingerprints bucketed by ``fp`` (the ``spans.py`` discipline) —
the class self-join and the frequency-cap aggregation are exchange-free
on the index side; membership is ``tsig``-keyed and tiny (two columns
per document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.text import _NORM_SPARK
from columnar_aware_dedup_spark.operators.winnowing import (
    overlap_report,
    winnowed_rows,
)
from columnar_aware_dedup_spark.streaming import fold

#: fingerprint-table bucket count (the layout contract of the init).
_N_BUCKETS = 8


def init_winnow_tables(
    spark: SparkSession, fp_table: str, member_table: str
) -> tuple[str, str]:
    """(Re-)create the empty index pair — the ONE place the layout is
    written down (the ``spans.init_span_table`` pattern): fingerprints
    ``bucketBy(8, 'fp')`` so the pair self-join and the cap aggregation
    read co-partitioned buckets; membership plain (doc_id, tsig).

    r11 (optimization): re-init goes through the shared TRUNCATE
    discipline (``fold.init_tables``) — a layout-matching existing table
    is truncated in place instead of Derby drop + recreate (measured
    ~1.7 s per certificate run on the two-table pair, guide §1.2 step 1:
    remove work, here two catalog round trips and an empty bucketed
    write)."""
    fold.init_tables(
        spark, fp_table, {"": ("tsig string, fp string", True)},
        _N_BUCKETS, "fp",
    )
    fold.init_tables(
        spark, member_table, {"": ("doc_id long, tsig string", False)},
        _N_BUCKETS, "fp",
    )
    return fp_table, member_table


def _batch_winnowed(docs: DataFrame) -> DataFrame:
    """Per-doc winnowing rows for one batch of documents-schema rows —
    through the SAME ``winnowed_rows`` derivation as the corpus scan.
    ``dropDuplicates(doc_id)``: intra-batch replay guard (the indexer
    discipline). NULL-text docs (NULL ``tsig``) are dropped here: every
    downstream equi-join ignores them in the batch query anyway, but in
    the fold a NULL class key would defeat the ``tsig`` anti-join (NULL
    never matches) and re-append its rows on every replay."""
    return winnowed_rows(
        docs.dropDuplicates(["doc_id"])
        .withColumn("norm", F.expr(_NORM_SPARK))
        .withColumn("toks", F.split("norm", " "))
    ).filter(F.col("tsig").isNotNull())


def merge_winnow_delta(
    spark: SparkSession, docs: DataFrame, fp_table: str, member_table: str
) -> int:
    """Idempotently merge one crawl delta; returns MEMBERSHIP rows
    appended (the replay-zero metric: fingerprint rows can legitimately
    be zero for a delta of already-known texts).

    Append order is fingerprints first: per-table anti-join idempotence
    (module doc) makes any crash point replay-convergent, and the serve
    path tolerates a class briefly present in fingerprints but not yet
    in membership (it joins through ``tsig`` and simply emits no member
    pairs for it)."""
    with fold.locked(spark, fp_table, fp_table, member_table):
        w = _batch_winnowed(docs)
        fold.append_new(
            spark,
            w.dropDuplicates(["tsig"]).select(
                "tsig", F.explode("sel").alias("fp")
            ),
            fp_table,
            "tsig",
        )
        return fold.append_new(
            spark, w.select("doc_id", "tsig"), member_table, "doc_id"
        )


def overlap_pairs_from_index(
    spark: SparkSession, fp_table: str, member_table: str
) -> DataFrame:
    """The ``winnowing_overlap_pairs`` report served from the maintained
    tables through the shared :func:`overlap_report` chain — result-
    identical to the corpus scan over the same documents (certified by
    ``streaming_winnow_parity`` and pytest). Per-class selection size
    (the within-class pairs' shared count) is re-derived as the class's
    fingerprint row count — exact, because the index holds each class's
    DISTINCT selected set."""
    class_fp = spark.table(fp_table)
    nfp = class_fp.groupBy("tsig").agg(
        F.count(F.lit(1)).cast("bigint").alias("nfp")
    )
    members = spark.table(member_table).join(nfp, "tsig")
    return overlap_report(class_fp, members)
