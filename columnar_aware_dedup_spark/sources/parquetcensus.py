"""Per-column parquet storage census, cross-verified against the footer.

What the reference's page-level walk enables beyond dedup
(``parquet/dedup/NaiveParquetChunkingAlgorithm.java:69-106``): a storage
census — per leaf column, how many pages, how many dictionary pages, and
the compressed/uncompressed byte totals — the table a storage engineer
reads before choosing encodings, page sizes, or which columns pay for
dictionary encoding at 100 TB.

Verification strategy: the census's integers come from OUR from-scratch
Thrift compact-protocol page walk (``functions/parquetmeta.py:page_stats``),
and the parquet footer carries the SAME totals as independent writer-side
claims (parquet-format: a ColumnChunk's ``total_{un,}compressed_size`` is
the sum over its pages including headers). The registered query
(``parquet_column_census``) therefore emits per-(file, column) boolean
bits — walk total == footer total, for both byte dimensions, plus the
format's at-most-one-dict-page invariant — each computed from the REAL
walk and falsifiable on corrupted bytes
(``tests/test_parquet_census.py``); the numeric table stays available as
the unregistered ``parquet_column_census_full`` twin, pytest-pinned
against pyarrow's footer fields.

Scale shape: :func:`column_census_rows` is the ``rows_fn`` of the shared
per-file parse loop (``sources.binaryfile.map_files``: one parse task per
file), the census aggregated in-kernel per column across row groups, ZERO
shuffles until the final presentation sort — at 100 TB the census output
is O(files x columns), never O(rows).
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_aware_dedup_spark.registry import register
from columnar_aware_dedup_spark.sources.binaryfile import (
    base_name,
    binary_files,
    map_files,
)

#: the fixture tables' LEAF column paths (parquet physical columns — the
#: arrow-level `embedding` list appears as its repeated leaf). Constant
#: across SFs because the driver's fixture writer is; the oracle's VALUES
#: list and the kernel's output are both checked against this map, so a
#: fixture-schema change fails loudly in both engines.
FIXTURE_LEAF_COLUMNS: dict[str, list[str]] = {
    "customer.parquet": [
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    ],
    "documents.parquet": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings.parquet": ["vec_id", "embedding.list.element", "label"],
    "events.parquet": [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ],
    "lineitem.parquet": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ],
    "nation.parquet": ["n_nationkey", "n_name", "n_regionkey"],
    "orders.parquet": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ],
    "part.parquet": [
        "p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice",
    ],
    "region.parquet": ["r_regionkey", "r_name"],
    "supplier.parquet": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}

_CENSUS_BITS = [
    "compressed_matches_footer_ok",
    "uncompressed_matches_footer_ok",
    "dict_at_most_one_ok",
]

_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), False),
        T.StructField("n_pages", T.LongType(), False),
        T.StructField("n_dict_pages", T.LongType(), False),
        T.StructField("compressed_bytes", T.LongType(), False),
        T.StructField("uncompressed_bytes", T.LongType(), False),
        T.StructField("compressed_matches_footer_ok", T.BooleanType(), False),
        T.StructField("uncompressed_matches_footer_ok", T.BooleanType(), False),
        T.StructField("dict_at_most_one_ok", T.BooleanType(), False),
    ]
)


def column_census_rows(file_name: str, data: bytes) -> list[dict]:
    """The census for one parquet file: per leaf column (aggregated across
    row groups), page counts and the walk-derived byte totals, plus the
    three verification bits (module doc). Shared by the registered query's
    kernel and the corruption flip tests — the bits are only falsifiable
    if the tests derive them through THIS code."""
    import pyarrow.parquet as pq

    from columnar_aware_dedup_spark.functions.parquetmeta import page_stats

    md = pq.ParquetFile(io.BytesIO(data)).metadata
    acc: dict[str, dict] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            a = acc.setdefault(
                col.path_in_schema,
                {
                    "n_pages": 0,
                    "n_dict": 0,
                    "walk_comp": 0,
                    "walk_uncomp": 0,
                    "footer_comp": 0,
                    "footer_uncomp": 0,
                    "walk_ok": True,
                    "dict_ok": True,
                },
            )
            a["footer_comp"] += col.total_compressed_size
            a["footer_uncomp"] += col.total_uncompressed_size
            start = col.data_page_offset
            if col.dictionary_page_offset is not None:
                start = min(start, col.dictionary_page_offset)
            try:
                stats = page_stats(data, start, col.total_compressed_size)
            except (ValueError, IndexError):
                a["walk_ok"] = False
                continue
            n_dict_rg = sum(1 for s in stats if s[0] == "DictPage")
            a["n_pages"] += len(stats)
            a["n_dict"] += n_dict_rg
            a["walk_comp"] += sum(h + c for _, h, c, _ in stats)
            a["walk_uncomp"] += sum(h + u for _, h, _, u in stats)
            a["dict_ok"] &= n_dict_rg <= 1
    return [
        {
            "file_name": file_name,
            "column_name": path,
            "n_pages": a["n_pages"],
            "n_dict_pages": a["n_dict"],
            "compressed_bytes": a["walk_comp"],
            "uncompressed_bytes": a["walk_uncomp"],
            "compressed_matches_footer_ok": a["walk_ok"]
            and a["walk_comp"] == a["footer_comp"],
            "uncompressed_matches_footer_ok": a["walk_ok"]
            and a["walk_uncomp"] == a["footer_uncomp"],
            "dict_at_most_one_ok": a["dict_ok"],
        }
        for path, a in sorted(acc.items())
    ]


def parquet_column_census_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The numeric census (module doc) — engine-side twin of the registered
    certificate, pytest-pinned against pyarrow's footer fields."""
    return map_files(
        binary_files(spark, sf_dir, "*.parquet"),
        lambda path, data: column_census_rows(base_name(path), data),
        _CENSUS_SCHEMA,
    )


PARQUET_CENSUS_ORACLE = (
    "SELECT file_name, column_name, "
    + ", ".join(f"TRUE AS {b}" for b in _CENSUS_BITS)
    + " FROM (VALUES "
    + ", ".join(
        f"('{f}', '{c}')"
        for f, cols in sorted(FIXTURE_LEAF_COLUMNS.items())
        for c in cols
    )
    + ") t(file_name, column_name) ORDER BY file_name, column_name"
)


@register("parquet_column_census", oracle=PARQUET_CENSUS_ORACLE)
def parquet_column_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(file, leaf column) walker-vs-footer verification bits (module
    doc), HASH-CHECKED: DuckDB re-states the constant fixture (file,
    column) layout with every bit TRUE, and the Spark side computes the
    real bits from the real page walk — corrupted page headers, truncated
    chunks, or double dict pages flip them
    (``tests/test_parquet_census.py``). The numeric census is
    :func:`parquet_column_census_full`."""
    return parquet_column_census_full(spark, sf_dir).select(
        "file_name",
        "column_name",
        *_CENSUS_BITS,
    ).orderBy("file_name", "column_name")
