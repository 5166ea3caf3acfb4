"""Cross-format dedup certificate: the SAME logical table in ORC and
parquet shares ZERO bytes at chunk level — and the engine's columnar
value-level signatures still find the redundancy.

The reference's thesis is that columnar-STRUCTURAL chunking beats byte-CDC
because it aligns chunk boundaries with the format's own units
(``orc/dedup/ColumnBasedORCChunkingAlgorithm.java``,
``parquet/dedup/NaiveParquetChunkingAlgorithm.java``). This certificate
measures the thesis's boundary: when the identical snapshot-A lineitem
rows (ONE shared fixture builder, ``orcfixtures._snapshot_fixture_dirs``)
are written as ORC and as parquet, every byte-level signature scheme —
structural included — finds nothing, because the two formats encode the
same values into disjoint byte streams. A *logical* column signature (md5
per canonically-rendered value, summed order-free) identifies the shared
content regardless of container. That is the "columnar-aware" pitch taken
one level up: dedup the VALUES, not the bytes, when data crosses format
boundaries — the standard situation in a lakehouse that keeps ORC
history and parquet hot tiers.

Verification strategy (the ``parquet_column_census`` certificate pattern):
per lineitem column the registered query emits

- ``value_sig`` — DECIMAL(38,0) sum over rows of the first 14 md5 hex
  chars (56 bits) of the canonical rendering, computed by Spark FROM THE
  ORC BYTES; DuckDB computes the same number from the ``lineitem``
  parquet view under the snapshot-A predicate — a REAL cross-engine,
  cross-format content check, not a restated constant. The sum is exact
  (decimal/hugeint) and order-free, so it needs no global sort — the
  100 TB-safe multiset signature.
- ``formats_agree_ok`` — Spark's ORC-read signature equals its
  parquet-read signature (both real reads; oracle restates TRUE).
- ``orc_chunks_ok`` / ``parquet_pages_ok`` — the structural walkers
  actually produced content chunks for this column (guards the zero
  intersection below against a vacuously-empty walk).
- ``n_shared_byte_sigs`` — size of the per-column intersection of ORC
  column-stream signatures and parquet page signatures (oracle restates
  0; ``tests/test_crossformat.py`` flips it by feeding the comparator the
  same format twice, and flips ``formats_agree_ok`` on a perturbed
  column).

Scale shape: two one-task binaryFile parses (the existing chunkers),
per-column partial-aggregated signature sums over the native columnar
scans (no shuffle wider than 11 keys), and an 11-row assembly join.
Nothing is O(rows) past the map side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.functions.hashing import canon_col, canon_sql
from columnar_aware_dedup_spark.registry import register
from columnar_aware_dedup_spark.sources.chunkers import chunk_files
from columnar_aware_dedup_spark.sources.orcfixtures import (
    _CUTOFF,
    orc_fixture_dirs,
    parquet_fixture_dirs,
)

#: lineitem columns in schema order (ORC column ids are 1-based in this
#: order; id 0 is the root struct) with the canon dtype class.
_LINEITEM_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
]

#: parquet chunk types that carry column DATA (PageHeader is metadata; the
#: fixture is PLAIN so DictPage does not occur, but a dict page IS data).
_PQ_DATA_TYPES = ("DictPage", "DataPageV1", "DataPageV2", "ColumnChunk")

_BITS = ["formats_agree_ok", "orc_chunks_ok", "parquet_pages_ok"]


def _hex_sum(name: str, dtype: str):
    """Spark column: 56-bit md5-prefix of the canonical rendering, as
    DECIMAL(38,0) ready for an exact order-free sum."""
    canon = F.coalesce(canon_col(name, dtype), F.lit("\\N"))
    return F.conv(F.substring(F.md5(canon), 1, 14), 16, 10).cast(
        "decimal(38,0)"
    )


def _value_sigs(df: DataFrame, fmt: str) -> DataFrame:
    """One row per column: (column_name, sig_{fmt} DECIMAL(38,0)).

    r12 (guide §2.5 input parallelism): the snapshot store is ONE ~20 MB
    file per format — under ``maxPartitionBytes``, so the scan is a
    single task, and the per-row work here is heavy (11 × md5 over
    canonical renderings ≈ seconds of single-threaded CPU at sf0.1;
    measured 2.85 s ORC / 3.16 s parquet as 1-task aggs). An explicit
    repartition to the session's parallelism moves the hash work off the
    scan task: the scan ships raw rows (a full hash shuffle of the 11
    projected columns — paid because the md5 work it spreads costs more),
    and the md5 + decimal partial sums run 32-way. The `_fanned` discipline: size stages by CPU work, not input
    bytes. Exact order-free sums are partition-order-invariant, so the
    result is bit-identical."""
    spread = df.select(*[n for n, _t in _LINEITEM_COLS]).repartition(
        df.sparkSession.sparkContext.defaultParallelism,
        # hash keys, not round-robin: a keyless repartition pays a local
        # sort of its input first (sortBeforeRepartition, guide §2.5);
        # (orderkey, linenumber) is unique and hash-uniform, so the rows
        # spread evenly with no pre-sort
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    )
    agg = spread.agg(
        *[F.sum(_hex_sum(n, t)).alias(n) for n, t in _LINEITEM_COLS]
    )
    return agg.unpivot(
        [], [n for n, _t in _LINEITEM_COLS], "column_name", f"sig_{fmt}"
    )


def _hex_sum_sql(name: str, dtype: str) -> str:
    canon = f"COALESCE({canon_sql(name, dtype)}, '\\N')"
    return (
        f"sum(CAST(('0x' || substr(md5({canon}), 1, 14)) AS BIGINT))"
    )


CROSS_FORMAT_ORACLE = (
    f"""
WITH a AS (
  SELECT * FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderdate < TIMESTAMP '{_CUTOFF}')
)
"""
    + " UNION ALL ".join(
        f"SELECT '{n}' AS column_name,"
        f" CAST({_hex_sum_sql(n, t)} AS VARCHAR) AS value_sig,"
        + ", ".join(f"TRUE AS {b}" for b in _BITS)
        + ", CAST(0 AS BIGINT) AS n_shared_byte_sigs FROM a"
        for n, t in _LINEITEM_COLS
    )
    + " ORDER BY column_name"
)


def cross_format_chunk_sigs(
    spark: SparkSession, orc_dir: str, pq_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(orc_sigs, pq_sigs): per-column content-chunk signatures from the
    two structural walkers, column names unified to the lineitem schema.

    ORC's column chunker names columns ``col{id}`` with id 1..n in schema
    order (``chunkers.chunk_orc_columns_bytes``); parquet pages carry
    ``path_in_schema`` directly. The map is built from the one schema
    list, so a fixture-schema change breaks loudly, not silently.
    """
    id_map = F.create_map(
        *[
            x
            for i, (n, _t) in enumerate(_LINEITEM_COLS)
            for x in (F.lit(f"col{i + 1}"), F.lit(n))
        ]
    )
    orc_sigs = (
        chunk_files(spark, orc_dir, glob="lineitem.orc", orc_mode="columns")
        .filter(F.col("chunk_type") == "Column")
        .select(
            id_map[F.col("column_name")].alias("column_name"), "signature"
        )
    )
    pq_sigs = (
        chunk_files(spark, pq_dir, glob="lineitem.parquet")
        .filter(F.col("chunk_type").isin(*_PQ_DATA_TYPES))
        .select("column_name", "signature")
    )
    return orc_sigs, pq_sigs


def cross_format_report(
    orc_sigs: DataFrame, pq_sigs: DataFrame,
    orc_values: DataFrame, pq_values: DataFrame,
) -> DataFrame:
    """Assemble the per-column certificate from the four inputs (split out
    so tests can feed perturbed sides — same-format sigs to flip the zero
    intersection, a modified snapshot to flip ``formats_agree_ok``)."""
    orc_counts = orc_sigs.groupBy("column_name").agg(
        F.count("*").alias("n_orc_chunks")
    )
    pq_counts = pq_sigs.groupBy("column_name").agg(
        F.count("*").alias("n_pq_pages")
    )
    shared = (
        orc_sigs.distinct()
        .join(pq_sigs.distinct(), ["column_name", "signature"])
        .groupBy("column_name")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        orc_values.join(pq_values, "column_name")
        .join(orc_counts, "column_name", "left")
        .join(pq_counts, "column_name", "left")
        .join(shared, "column_name", "left")
        .select(
            "column_name",
            F.col("sig_orc").cast("string").alias("value_sig"),
            (F.col("sig_orc") == F.col("sig_parquet")).alias(
                "formats_agree_ok"
            ),
            (F.coalesce("n_orc_chunks", F.lit(0)) > 0).alias(
                "orc_chunks_ok"
            ),
            (F.coalesce("n_pq_pages", F.lit(0)) > 0).alias(
                "parquet_pages_ok"
            ),
            F.coalesce("n_shared", F.lit(0))
            .cast("bigint")
            .alias("n_shared_byte_sigs"),
        )
        .orderBy("column_name")
    )


@register("cross_format_dedup", oracle=CROSS_FORMAT_ORACLE)
def cross_format_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lineitem-column cross-format certificate (module doc): logical
    value signatures agree between the ORC and parquet encodings of
    snapshot A — and DuckDB re-derives the signature from the raw
    ``lineitem`` view — while the two formats' structural content chunks
    share zero byte signatures."""
    orc_store, _ = orc_fixture_dirs(sf_dir)
    pq_store, _ = parquet_fixture_dirs(sf_dir)
    orc_values = _value_sigs(
        spark.read.orc(os.path.join(orc_store, "lineitem.orc")), "orc"
    )
    pq_values = _value_sigs(
        spark.read.parquet(os.path.join(pq_store, "lineitem.parquet")),
        "parquet",
    )
    orc_sigs, pq_sigs = cross_format_chunk_sigs(spark, orc_store, pq_store)
    return cross_format_report(orc_sigs, pq_sigs, orc_values, pq_values)
