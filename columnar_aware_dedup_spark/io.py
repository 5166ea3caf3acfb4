"""Fixture-table loaders.

The driver materializes a TPC-H-ish star schema plus ``events`` / ``documents``
/ ``embeddings`` as one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}`` (see ``FIXTURES.md``). All engine queries
read through these helpers so the scan always goes through Spark's native
parquet source (predicate pushdown + column pruning via Catalyst).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: inferred fixture schemas: path -> ((st_mtime_ns, st_size), schema).
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file
    version: inference is a one-task Spark job plus a driver-side listing
    on every call, and every registered query reads several fixtures. A
    file rewritten in place changes its ``(st_mtime_ns, st_size)`` and is
    inferred again; a path ``os.stat`` cannot see is read as before."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size)
    cached = _SCHEMAS.get(path)
    if cached is None or cached[0] != stamp:
        cached = _SCHEMAS[path] = (stamp, spark.read.parquet(path).schema)
    return spark.read.schema(cached[1]).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (plain parquet scan, fully Catalyst-visible).

    ``events.ts`` has shipped as both TIMESTAMP(NANOS) (which Spark 4 refuses
    to read natively — legacy conf reads it as a nanosecond long) and plain
    TIMESTAMP(MICROS) depending on fixture generation. Handle both: only
    truncate long nanos to microseconds, matching what DuckDB produces when it
    reads the same file, so oracle comparisons line up. BOTH branches emit
    ``ts`` as TIMESTAMP (with local zone): micros fixtures are inferred as
    TIMESTAMP_NTZ and cast (watermarks reject NTZ, and the session tz is
    pinned UTC so the cast is wall-clock-identity) — the same normalization
    ``streaming.ingest.events_stream`` applies, so batch/stream comparisons
    compare one type with no implicit NTZ<->LTZ coercion. The legacy conf is
    scoped to the nanos branch (restored otherwise), not left set
    session-wide (ADVICE r02). ``events`` is always inferred with the
    legacy conf set, so its memoized schema (:func:`_read_parquet`) is that
    branch's.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        key = "spark.sql.legacy.parquet.nanosAsLong"
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "true")
        ts_is_long = False
        try:
            df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
            ts_is_long = isinstance(df.schema["ts"].dataType, LongType)
        finally:
            if not ts_is_long:
                # restore: only nanos execution needs the conf at runtime
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
        if ts_is_long:
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")
