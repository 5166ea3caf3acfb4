"""File naming through the one per-file parse loop (``sources/binaryfile.py``).

Each Spark table that parses file bytes is ``map_files`` over a
``binary_files`` scan, with a ``rows_fn`` that names the file in its rows:
the full path, the base name or ``dir/name``. Here every such table must
equal its pure per-file function mapped over the same files read with
``open()``, with the name spelled out independently, compared as row sets
including the name column.
"""

from __future__ import annotations

import glob
import os

import pytest

from columnar_aware_dedup_spark.operators import zonemap
from columnar_aware_dedup_spark.sources import cdc, chunkers, parquetcensus
from columnar_aware_dedup_spark.sources.orcfixtures import (
    chunk_orc_stripes_linked,
    linked_chunk_files,
    orc_fixture_dirs,
    parquet_fixture_dirs,
)

from tests.conftest import rows_equal


def _full(path: str) -> str:
    return f"file:{path}"


def _base(path: str) -> str:
    return os.path.basename(path)


def _dir_and_base(path: str) -> str:
    return os.path.join(os.path.basename(os.path.dirname(path)), _base(path))


def _with_file(chunker):
    return lambda name, data: [{**c, "file": name} for c in chunker(data)]


def _two_level(region_rows, column_rows):
    return lambda name, data: [
        {**r, "level": "region"} for r in region_rows(name, data)
    ] + [{**r, "level": "column"} for r in column_rows(name, data)]


def _sf(sf_dir):
    return [sf_dir]


def _orc_store(sf_dir):
    return [orc_fixture_dirs(sf_dir)[0]]


def _orc_incoming(sf_dir):
    return [orc_fixture_dirs(sf_dir)[1]]


def _parquet_incoming(sf_dir):
    return [parquet_fixture_dirs(sf_dir)[1]]


#: id -> (directories, glob, Spark table, file name, pure per-file rows)
CASES = {
    "chunk_files-parquet": (
        _sf, "*.parquet",
        lambda spark, sf: chunkers.chunk_files(spark, sf, "*.parquet"),
        _full, _with_file(chunkers.chunk_parquet_bytes),
    ),
    "chunk_files-orc-columns": (
        _orc_incoming, "*.orc",
        lambda spark, sf: chunkers.chunk_files(
            spark, _orc_incoming(sf)[0], "*.orc", "columns"
        ),
        _full, _with_file(chunkers.chunk_orc_columns_bytes),
    ),
    "cdc_chunk_files": (
        _sf, "*.parquet",
        lambda spark, sf: cdc.cdc_chunk_files(spark, sf, "*.parquet"),
        _full, _with_file(cdc.chunk_cdc_bytes),
    ),
    "linked_chunk_files": (
        _orc_store, "*.orc",
        lambda spark, sf: linked_chunk_files(spark, _orc_store(sf)[0]),
        _full, _with_file(chunk_orc_stripes_linked),
    ),
    "stripe_stats_key_table": (
        _orc_incoming, "*.orc",
        lambda spark, sf: zonemap.stripe_stats_key_table(
            spark, _orc_incoming(sf)[0]
        ),
        _base, zonemap.stripe_stats_key_rows,
    ),
    "parquet_rg_stats_key_table": (
        _parquet_incoming, "*.parquet",
        lambda spark, sf: zonemap.parquet_rg_stats_key_table(
            spark, _parquet_incoming(sf)[0]
        ),
        _base, zonemap.parquet_rg_stats_key_rows,
    ),
    "stripe_column_stats_key_table": (
        _orc_store, "*.orc",
        lambda spark, sf: zonemap.stripe_column_stats_key_table(
            spark, _orc_store(sf)[0]
        ),
        _base, zonemap.stripe_column_stats_key_rows,
    ),
    "orc_two_level_table": (
        _orc_incoming, "*.orc",
        lambda spark, sf: zonemap.orc_two_level_table(
            spark, _orc_incoming(sf)[0]
        ),
        _base,
        _two_level(
            zonemap.stripe_stats_key_rows,
            zonemap.stripe_column_stats_key_rows,
        ),
    ),
    "zone_map_stripe_audit": (
        lambda sf: list(orc_fixture_dirs(sf)), "*.orc",
        zonemap.zone_map_stripe_audit,
        _dir_and_base, zonemap.zone_map_stripe_table,
    ),
    "zone_map_row_group_audit": (
        lambda sf: list(parquet_fixture_dirs(sf)), "*.parquet",
        zonemap.zone_map_row_group_audit,
        _dir_and_base, zonemap.zone_map_row_group_table,
    ),
    "parquet_column_census_full": (
        _sf, "*.parquet",
        parquetcensus.parquet_column_census_full,
        _base, parquetcensus.column_census_rows,
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_table_equals_pure_function_per_file(spark, sf_dir, case):
    dirs, pattern, spark_table, name, pure_rows = CASES[case]
    got = spark_table(spark, sf_dir)
    fields = got.schema.fieldNames()
    want = []
    for d in dirs(sf_dir):
        for path in sorted(glob.glob(os.path.join(os.path.abspath(d), pattern))):
            with open(path, "rb") as f:
                data = f.read()
            want.extend(
                tuple(r[k] for k in fields) for r in pure_rows(name(path), data)
            )
    assert want, f"no {pattern} rows under {dirs(sf_dir)}"
    assert rows_equal(got, spark.createDataFrame(want, got.schema)), case
