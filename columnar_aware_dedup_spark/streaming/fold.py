"""The fold core: how a delta is folded into a persisted catalog table.

Every maintained table in the engine — the chunk-signature store
(``sources/store.py``) and the streaming index families
(``streaming/*.py``) — grows by the same steps, and this module is the
one place they are written down:

- :func:`init_tables` (re-)creates a family of empty tables, truncating
  in place when the layout already matches;
- :func:`locked` serializes writers on the family's store lock and
  refreshes the tables the merge reads, so it sees appends made by other
  sessions;
- :func:`append_new` is the single-table append policy: anti-join the
  delta against the table's key, lay it out on the table's OWN catalog
  bucket spec, and append it in one observed write that counts it;
- :func:`start` drains a file-source stream through a merge.

Maintainers whose merge spans several tables (``bm25._merge_bm25``,
``sketches.merge_sketches``, ``clusters.merge_clusters``) keep their
commit protocol and use :func:`locked` as the shell around it.
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.sources.store import (
    bucket_aligned,
    bucket_layout,
    bucket_spec,
    drop_table_and_dir,
    store_lock,
)


def init_tables(
    spark: SparkSession,
    table_name: str,
    specs: dict[str, tuple[str, bool]],
    n_buckets: int,
    bucket_key: str,
) -> str:
    """(Re-)create a family of EMPTY catalog tables per ``specs``
    (suffix -> (schema, bucketed)); returns ``table_name``.

    A table that already exists with the expected schema and bucketing is
    TRUNCATEd in place (metadata + file delete, no job) instead of dropped
    and recreated — the parity certificates re-zero their tables every
    run, and a Derby drop/create round trip per table costs more than the
    merges themselves. Any other existing state, including crash debris
    from an earlier session, goes through the catalog-resolving
    ``store.drop_table_and_dir``."""
    for suffix, (schema, bucketed) in specs.items():
        name = table_name + suffix
        buckets = (n_buckets, bucket_key) if bucketed else (None, None)
        if truncate_if_layout_matches(spark, name, schema, buckets):
            continue
        drop_table_and_dir(spark, name)
        writer = spark.createDataFrame([], schema).write.format("parquet")
        if bucketed:
            writer = writer.bucketBy(n_buckets, bucket_key).sortBy(bucket_key)
        writer.mode("overwrite").saveAsTable(name)
    return table_name


def truncate_if_layout_matches(
    spark: SparkSession,
    name: str,
    schema,
    buckets: tuple[int | None, str | None],
) -> bool:
    """TRUNCATE ``name`` in place when it exists with exactly ``schema``
    (a DDL string or StructType) and catalog bucket spec ``buckets``
    ((None, None) = unbucketed); returns whether it did."""
    if not spark.catalog.tableExists(name):
        return False
    if (
        spark.table(name).schema != spark.createDataFrame([], schema).schema
        or bucket_spec(spark, name) != buckets
    ):
        return False
    spark.sql(f"TRUNCATE TABLE {name}")
    spark.catalog.refreshTable(name)
    return True


@contextlib.contextmanager
def locked(spark: SparkSession, lock_name: str, *tables: str):
    """Hold the ``lock_name`` store lock, with every table in ``tables``
    refreshed first so the merge sees files appended by writers in other
    sessions or processes."""
    with store_lock(spark, lock_name):
        for t in tables:
            spark.catalog.refreshTable(t)
        yield


def laid_out(spark: SparkSession, rows: DataFrame, table: str) -> DataFrame:
    """``rows`` laid out for an append to ``table`` (unchanged for an
    unbucketed table): ``store.bucket_aligned`` on the table's catalog
    bucket spec — k = min(n_buckets, cores) write tasks keyed on the
    bucket id, so the append writes at most one new file per bucket
    whatever k is, and a small delta pays k task launches instead of one
    per bucket."""
    n_buckets, bucket_col = bucket_layout(spark, table)
    return bucket_aligned(rows, n_buckets, bucket_col) if n_buckets else rows


def append_new(
    spark: SparkSession, rows: DataFrame, table: str, key: str | list[str]
) -> int:
    """Append the ``rows`` whose ``key`` the table lacks; returns how many.

    The caller holds the table's lock (:func:`locked`) and has already
    deduplicated ``rows`` on its own input unit — a doc's derived rows
    share its doc_id, so deduplicating HERE would drop them.

    One Spark write: the left-anti join against the table's key, the
    :func:`laid_out` layout and the insert run as a single query, and the
    appended-row count is an ``Observation`` on that same write, so no
    separate count or pin runs. An empty delta (a replay) writes no file
    to a bucketed table, whose writer opens bucket files only for rows it
    sees; an unbucketed table gets Spark's one zero-row file. The table is
    refreshed after a non-empty append: under ``foreachBatch`` the insert
    runs in the micro-batch's cloned session, and ``spark``'s readers must
    not serve the pre-append listing."""
    target = spark.table(table)
    fresh = rows.join(target.select(key), key, "left_anti").select(
        *target.columns  # insertInto binds by position
    )
    appended = Observation()
    laid_out(spark, fresh, table).observe(
        appended, F.count(F.lit(1)).alias("n")
    ).write.format("parquet").mode("append").insertInto(table)
    n = appended.get["n"]
    if n:
        spark.catalog.refreshTable(table)
    return n


def docs_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a directory of documents-schema parquet."""
    return spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(docs_dir)


def start(
    stream: DataFrame, merge: Callable[[DataFrame], object], checkpoint: str
):
    """Fold every micro-batch of ``stream`` through ``merge``; returns the
    StreamingQuery. ``availableNow`` drains what is present, then stops
    (the test/backfill trigger; a deployment drops it to tail
    continuously). The checkpoint makes restarts resume, and the merges'
    anti-joins make the at-least-once replays it allows no-ops."""
    return (
        stream.writeStream.foreachBatch(lambda batch, _id: merge(batch))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
