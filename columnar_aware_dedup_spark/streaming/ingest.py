"""Continuous-ingest dedup: the reference's client/server loop as Structured
Streaming (SURVEY §2.9 mapping).

The reference runs a long-lived TCP loop — client streams files as they
appear, server keeps an unbounded in-heap chunk store
(``net/SpeedupClient.java:44-64``, ``orc/dedup/NaiveORCChunkStore.java:15``).
Spark-native: a ``binaryFile`` file-source stream feeds the structural
chunker; each micro-batch merges into the *persisted* signature-bucketed
chunk store (``sources/store.py::merge_into_store``), appending only misses.
The store survives restarts (vs. the reference's process-lifetime HashMap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.sources import store
from columnar_aware_dedup_spark.sources.chunkers import CHUNK_SCHEMA, _chunk_batches
from columnar_aware_dedup_spark.streaming import fold


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    store_table: str,
    checkpoint: str,
    glob: str = "*.parquet",
):
    """Stream files from ``input_dir`` into the chunk-store table
    ``store_table``, creating it empty if it does not exist (``fold.start``).

    Returns the StreamingQuery; callers ``awaitTermination()``. Restart-safe
    via checkpoint; the store merge is idempotent, so at-least-once delivery
    is fine.
    """
    if not spark.catalog.tableExists(store_table):
        store.create_store(
            spark, spark.createDataFrame([], CHUNK_SCHEMA), store_table
        )
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .load(input_dir)
        .select("path", "content")
    )
    return fold.start(
        files.mapInPandas(_chunk_batches, CHUNK_SCHEMA),
        lambda batch: store.merge_into_store(spark, batch, store_table),
        checkpoint,
    )


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _restore_conf(spark: SparkSession, key: str, prev: str | None) -> None:
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over events-schema parquet, ``ts`` normalized to
    the SAME type the batch reader (``io.table``) produces for the same
    fixture: TIMESTAMP (with local zone) in both branches — watermarks
    reject TIMESTAMP_NTZ, and the session tz is pinned UTC so the NTZ->LTZ
    cast is wall-clock-identity. Batch/stream equality tests therefore
    compare identical types with no implicit NTZ<->LTZ coercion (ADVICE
    r02).

    A stream needs a declared schema, so this performs a hidden *batch* read
    of the directory to probe the physical type. The legacy ``nanosAsLong``
    conf is scoped to that probe — restored on the micros path, left on only
    for the nanos branch, whose stream execution itself needs it.
    """
    from pyspark.sql.types import LongType

    try:
        prev = spark.conf.get(_NANOS_CONF)
    except Exception:
        prev = None
    spark.conf.set(_NANOS_CONF, "true")
    try:
        ts_is_long = isinstance(
            spark.read.parquet(events_dir).schema["ts"].dataType, LongType
        )
    except Exception:
        _restore_conf(spark, _NANOS_CONF, prev)
        raise
    ts_decl = "ts long" if ts_is_long else "ts timestamp_ntz"
    if not ts_is_long:
        _restore_conf(spark, _NANOS_CONF, prev)
    stream = spark.readStream.schema(
        f"event_id long, {ts_decl}, user_id long, event_type string,"
        " value double, props string"
    ).parquet(events_dir)
    if ts_is_long:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_tumbling_counts(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming variant of ``event_tumbling_window`` (same ``F.window``
    expression the batch oracle checks) with a late-data watermark.

    ``events_dir`` is a directory of events-schema parquet files (Spark's
    file stream source tails directories, not single files).
    """
    events = events_stream(spark, events_dir)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
