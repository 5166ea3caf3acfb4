"""Continuous PQ code-table maintenance: new embeddings stream in, get
encoded against the FROZEN codebooks with the zero-shuffle broadcast
argmin, and append to the persisted code table — the compression twin of
the streaming IVF index (``streaming/ivf.py``).

Why it exists: ``pq.write_pq_index`` re-encodes and rewrites the WHOLE
collection. At 100 TB with a daily embedding delta the maintained code
table pays only the delta — each micro-batch encodes its own vectors (a
narrow map against the broadcast codebook row; the history never rescans)
and appends them idempotently into the table ``ann_pq_topk_from_index``
serves ADC queries from, so the serving scan keeps reading ``_M`` bytes
per vector while the collection grows. Codebooks are FROZEN at index
creation (the same deployment contract as the IVF centroids): a code is a
pure function of (vector, codebooks), so replays re-derive identical rows
and the anti-join on vec_id makes at-least-once delivery a no-op.
Re-training codebooks (``pq.pq_train``) is a rebuild — every historical
code would change.

Serving equality is the test contract: after any sequence of merges and
replays, ``ann_pq_topk_from_index`` over the maintained table must equal
``ann_pq_topk`` over the union of the ingested batches, row for row
(``tests/test_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.pq import encode_expr
from columnar_aware_dedup_spark.streaming import fold


def init_code_table(spark: SparkSession, table_name: str) -> str:
    """Create an empty ``(vec_id, codes)`` table, replacing any previous
    state — including a leftover warehouse directory from a session whose
    metastore no longer lists the table. Re-init truncates a
    layout-matching table in place (r11 — the ``init_bm25_tables``
    discipline). Returns the table name for chaining."""
    return fold.init_tables(
        spark, table_name, {"": ("vec_id long, codes array<int>", False)},
        0, "",
    )


def merge_codes(
    spark: SparkSession, batch: DataFrame, cbs: DataFrame, table_name: str
) -> int:
    """Idempotently merge one batch of (vec_id, embedding) rows into the
    persisted code table; returns rows appended. Only the batch encodes
    (broadcast argmin, zero shuffle); the history contributes one vec_id
    column scan for the anti-join, never a re-encode."""
    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: intra-batch replay guard — a vector twice in one
        # batch would append two rows.
        codes = (
            batch.dropDuplicates(["vec_id"])
            .join(F.broadcast(cbs))
            .select("vec_id", encode_expr().alias("codes"))
        )
        return fold.append_new(spark, codes, table_name, "vec_id")


def start_pq_indexer(
    spark: SparkSession,
    vectors_dir: str,
    cbs: DataFrame,
    table_name: str,
    checkpoint: str,
) -> "object":
    """File-source stream over embeddings-schema parquet -> code merges
    (``fold.start``)."""
    vecs = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(vectors_dir)
    return fold.start(
        vecs, lambda batch: merge_codes(spark, batch, cbs, table_name),
        checkpoint,
    )
