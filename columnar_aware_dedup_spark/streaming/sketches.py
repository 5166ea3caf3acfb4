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
it cell-for-cell. A merge appends to three tables (seen docs, CMS cells,
HLL registers) and publishes them through the commit-marker protocol
(``streaming/commitlog.py``).
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
from columnar_aware_dedup_spark.streaming import commitlog, fold


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


#: the attempt-tagged tables, the doc-keyed registry first
#: (``commitlog.merge``'s replay guard reads it).
_PARTIALS = ("_seen", "_cms", "_hll")


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
            **commitlog.MARKER_TABLES,
        },
        0,
        "",
    )


def merge_sketches(
    spark: SparkSession, docs: DataFrame, prefix: str, sweep: bool = True
) -> int:
    """Idempotently fold one batch into the sketch tables; returns the
    number of NEW documents absorbed. The three appends are not atomic on
    plain parquet, so they publish through the commit-marker protocol
    (``commitlog.merge``, ADVICE r04 #1): a crash before the commit marker
    must not corrupt the additive CMS, and it cannot — uncommitted cells
    are invisible to :func:`served_cms`. ``sweep=False`` skips the
    per-merge debris reclaim (a caller that just initialized the tables
    empty loses space-accounting, never correctness)."""
    return commitlog.merge(
        spark,
        prefix,
        _PARTIALS,
        docs,
        lambda fresh: (
            {
                "_cms": batch_cms_cells(fresh),
                "_hll": batch_hll_regs(fresh),
                "_seen": fresh.select("doc_id"),
            },
            {},
        ),
        sweep,
    )


def served_cms(spark: SparkSession, prefix: str) -> DataFrame:
    """(d, b, n): the maintained sketch — committed appends re-aggregated
    at read (uncommitted attempts are crash debris and never count)."""
    return (
        commitlog.committed(spark, prefix, "_cms")
        .groupBy("d", "b")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def served_hll(spark: SparkSession, prefix: str) -> DataFrame:
    """(reg, mr): the maintained registers, committed rows max-merged."""
    return (
        commitlog.committed(spark, prefix, "_hll")
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
