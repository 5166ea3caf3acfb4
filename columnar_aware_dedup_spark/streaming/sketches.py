"""Continuous sketch maintenance: CMS cells and HLL registers over a
document stream — the streaming twin of ``token_heavy_hitters_cms`` /
``token_vocab_hll``.

Sketches earn their place at 100 TB precisely because they MERGE: CMS cells
add, HLL registers max — so a stream can maintain them append-only, the
postings-table design applied to sketch state. Each micro-batch derives the
cells/registers of its NEW documents only (anti-join on the seen-docs table
makes at-least-once delivery and checkpoint replays no-ops — CMS addition
is not idempotent, so replay protection is load-bearing here, unlike the
max-merged HLL where it is merely tidy) and appends the partials; readers
re-aggregate at serve time (SUM cells, MAX registers), and
``sources.store.compact_store`` folds the appends back to one row per cell
when the table grows. Exact equality with the batch-built sketch follows
from disjoint-doc additivity, and the two-waves-plus-replay test asserts
it cell-for-cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.selection import (
    _CMS_D,
    _cms_bucket_spark,
    _HLL_REG_SPARK,
    _HLL_RHO_SPARK,
)
from columnar_aware_dedup_spark.operators.text import _NORM_SPARK
from columnar_aware_dedup_spark.streaming import fold


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(F.split(F.expr(_NORM_SPARK), " ")).alias("tok"),
    )


def batch_cms_cells(docs: DataFrame) -> DataFrame:
    """(d, b, n): the CMS cell counts of one batch of documents-schema rows
    — same geometry and seeds as ``token_heavy_hitters_cms``."""
    cells = _tokens(docs).select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({d} AS d, ({_cms_bucket_spark(d)}) AS b)"
                    for d in range(_CMS_D)
                )
                + ")"
            )
        ).alias("c")
    )
    return (
        cells.select("c.d", "c.b")
        .groupBy("d", "b")
        .agg(F.count("*").alias("n"))
    )


def batch_hll_regs(docs: DataFrame) -> DataFrame:
    """(reg, mr): the HLL register maxima of one batch — same construction
    as ``token_vocab_hll`` (corpus-wide, not per source)."""
    return (
        _tokens(docs)
        .select(
            F.expr(_HLL_REG_SPARK).alias("reg"),
            F.expr(_HLL_RHO_SPARK).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mr"))
    )


def init_sketch_tables(spark: SparkSession, prefix: str) -> None:
    """Create the five empty state tables (seen docs, CMS cells, HLL
    register partials, attempts manifest, commit markers) under
    ``prefix``, replacing any previous state — including a leftover
    warehouse directory from a session whose metastore no longer lists
    the table. Re-init goes through the shared TRUNCATE-reuse discipline
    (r11 — ``fold.init_tables``: five Derby drop + recreate round trips
    per certificate run cost more than the merges)."""
    fold.init_tables(
        spark,
        prefix,
        {
            "_seen": ("doc_id long, attempt_id string", False),
            "_cms": ("d int, b int, n long, attempt_id string", False),
            "_hll": ("reg int, mr int, attempt_id string", False),
            "_attempts": ("attempt_id string", False),
            "_commits": ("attempt_id string", False),
        },
        0,
        "",
    )


def _committed(spark: SparkSession, prefix: str, suffix: str) -> DataFrame:
    """The ``suffix`` partial rows restricted to COMMITTED attempts
    (through the shared protocol machinery, ``streaming/commitlog.py``)."""
    from columnar_aware_dedup_spark.streaming.commitlog import committed_rows

    return committed_rows(spark, f"{prefix}_{suffix}", f"{prefix}_commits")


def sweep_uncommitted(spark: SparkSession, prefix: str) -> int:
    """Physically remove crash debris from the three partial tables.
    Must be called under the store lock (``merge_sketches`` does,
    opportunistically, before each merge — cheap when nothing crashed:
    the shared implementation,
    ``streaming/commitlog.py::sweep_uncommitted``, answers "any debris?"
    from the attempts/commits manifests alone and reclaims through the
    crash-safe staged swap)."""
    from columnar_aware_dedup_spark.streaming import commitlog

    return commitlog.sweep_uncommitted(
        spark,
        [f"{prefix}_{s}" for s in ("seen", "cms", "hll")],
        f"{prefix}_commits",
        f"{prefix}_attempts",
    )


def merge_sketches(
    spark: SparkSession, docs: DataFrame, prefix: str, sweep: bool = True
) -> int:
    """Idempotently fold one batch into the sketch tables; returns the
    number of NEW documents absorbed. ``sweep=False`` skips the per-merge
    debris reclaim (r11 — the ``merge_bm25_delta`` flag, same argument:
    debris is invisible to readers regardless via the commits semi-join,
    so a caller that just initialized the tables empty loses
    space-accounting, never correctness).

    Atomic-commit protocol (ADVICE r04 #1 — the three appends are not
    atomic on plain parquet, so a crash between them must not corrupt the
    additive CMS): every partial row of this merge carries a fresh
    ``attempt_id``, and readers / the dedup anti-join only honor rows whose
    attempt appears in the ``commits`` table — which is appended LAST, as
    the single-table publication point. A crash before the commit marker
    leaves invisible garbage (physically removed by
    :func:`sweep_uncommitted` at the start of the next merge);
    the checkpoint replay then re-derives the same docs under a NEW attempt
    and only that attempt ever commits. A replayed file after a successful
    commit anti-joins away as before, so it still adds zero counts.

    Cache discipline: under ``foreachBatch`` the partial appends execute in
    the micro-batch's CLONED session, which invalidates only its own
    table-relation cache — while ``spark`` here is the outer session whose
    sweep just read (and therefore cached) every table's file listing. The
    merge refreshes the four tables on ``spark`` both BEFORE reading and
    AFTER publishing, so a later reader on this session never serves the
    pre-append listing (without the trailing refresh, ``served_cms``
    silently dropped the newest attempt's cells once the sweep started
    touching the tables each round).
    """
    import uuid

    tables = [
        f"{prefix}_{s}" for s in ("seen", "cms", "hll", "attempts", "commits")
    ]
    with fold.locked(spark, f"{prefix}_seen", *tables):
        if sweep:
            sweep_uncommitted(spark, prefix)
        seen = _committed(spark, prefix, "seen")
        # dropDuplicates: intra-batch replay guard (the indexer/ingest
        # discipline) — a doc twice in one batch would double its CMS/HLL
        # contributions before the anti-join can see it.
        fresh = (
            docs.dropDuplicates(["doc_id"])
            .join(seen, "doc_id", "left_anti")
            .persist()
        )
        try:
            n = fresh.count()
            if n:
                attempt = uuid.uuid4().hex
                # manifest first (the protocol's step zero): a crash past
                # this line is detectable from attempts ∖ commits alone
                from columnar_aware_dedup_spark.streaming.commitlog import (
                    append_marker_row,
                    record_attempt,
                )

                record_attempt(spark, f"{prefix}_attempts", attempt)
                tag = F.lit(attempt).alias("attempt_id")
                batch_cms_cells(fresh).select("d", "b", "n", tag).write.format(
                    "parquet"
                ).mode("append").insertInto(f"{prefix}_cms")
                batch_hll_regs(fresh).select("reg", "mr", tag).write.format(
                    "parquet"
                ).mode("append").insertInto(f"{prefix}_hll")
                fresh.select("doc_id", tag).write.format("parquet").mode(
                    "append"
                ).insertInto(f"{prefix}_seen")
                # the publication point: everything above becomes visible
                # in this one single-table marker append (driver-side
                # atomic rename — the commit-file discipline)
                append_marker_row(spark, f"{prefix}_commits", attempt)
        finally:
            fresh.unpersist()
        for t in tables:
            spark.catalog.refreshTable(t)
        return n


def served_cms(spark: SparkSession, prefix: str) -> DataFrame:
    """(d, b, n): the maintained sketch — committed appends re-aggregated
    at read (uncommitted attempts are crash debris and never count)."""
    return (
        _committed(spark, prefix, "cms")
        .groupBy("d", "b")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def served_hll(spark: SparkSession, prefix: str) -> DataFrame:
    """(reg, mr): the maintained registers, committed rows max-merged."""
    return (
        _committed(spark, prefix, "hll")
        .groupBy("reg")
        .agg(F.max("mr").alias("mr"))
    )


def start_sketcher(
    spark: SparkSession, docs_dir: str, prefix: str, checkpoint: str
) -> "object":
    """File-source stream over documents-schema parquet -> sketch merges
    (``fold.start``)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_sketches(spark, batch, prefix),
        checkpoint,
    )
