"""File bytes into Spark: the one ``binaryFile`` scan and the one per-file
parse loop, plus the reference client's directory scan built on them.

Every structural reader (ORC/parquet chunkers, CDC, zone maps, stats keys,
census) is a pure per-file function over a file's bytes — the reference's
``ChunkingAlgorithm`` boundary (``dedup/ChunkingAlgorithm.java``). Its Spark
form is always the same two steps: :func:`binary_files` lists and reads the
files, and :func:`map_files` runs the function once per file inside one
Arrow ``mapInPandas`` loop (one parse task per file, no shuffle). A caller
brings only its paths, glob, ``rows_fn`` and output schema.

``SpeedupClient.run`` lists the input dir, keeps files matching an extension
filter, sorts lexicographically, and streams each
(``net/SpeedupClient.java:73-123``, filter ``:66-71``, sort ``:102``). The
Spark-native form is a :func:`binary_files` scan with a glob pushdown and
``orderBy(path)``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_aware_dedup_spark.registry import register


def binary_files(
    spark: SparkSession, paths: str | list[str], glob: str
) -> DataFrame:
    """The ``binaryFile`` scan of ``paths`` (a directory or a list of
    them), keeping files whose name matches ``glob``: one row per file
    with ``path``, ``modificationTime``, ``length`` and ``content``."""
    return spark.read.format("binaryFile").option("pathGlobFilter", glob).load(
        paths
    )


def map_files(
    files: DataFrame,
    rows_fn: Callable[[str, bytes], Iterable[dict]],
    schema: T.StructType,
) -> DataFrame:
    """Run ``rows_fn(path, data)`` once per file of a ``binaryFile`` frame
    (batch or streaming) and emit the row dicts it yields as ``schema``.

    ``rows_fn`` names the file in its rows as it likes (full path, base
    name, ``dir/name``); keys outside ``schema`` are dropped, so a parser
    may return its own dicts with the name set in place."""
    cols = schema.fieldNames()

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(rows_fn(path, bytes(content)))
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(_batches, schema)


def base_name(path: str) -> str:
    """``lineitem.orc`` for ``.../incoming/lineitem.orc``."""
    return path.rsplit("/", 1)[-1]


def dir_name(path: str) -> str:
    """``incoming/lineitem.orc`` for ``.../incoming/lineitem.orc``."""
    return "/".join(path.rsplit("/", 2)[-2:])


#: the driver fixture tables — the constant file list both engines know,
#: which is what lets the binary-file certificates be HASH-CHECKED:
#: DuckDB cannot parse ORC/parquet bytes, but it can state, per known file
#: name, the booleans the Spark side must prove in-plan (the trainer-
#: certificate pattern, VERDICT r05 brief #5).
FIXTURE_TABLES = (
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
)


def _const_true_rows_sql(names: list[str], key: str, bools: list[str]) -> str:
    """DuckDB oracle: one row per constant key, every certificate bit TRUE."""
    cols = ", ".join(f"TRUE AS {b}" for b in bools)
    values = ", ".join(f"('{n}')" for n in names)
    return (
        f"SELECT {key}, {cols} FROM (VALUES {values}) t({key}) ORDER BY {key}"
    )


def file_inventory(
    spark: SparkSession, path: str, glob: str = "*", with_content: bool = False
) -> DataFrame:
    cols = ["path", "length", "modificationTime"] + (
        ["content"] if with_content else []
    )
    return binary_files(spark, path, glob).select(*cols).orderBy("path")


def file_inventory_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw numeric inventory (file_name, length) — the pre-r08
    registered output, kept as the unregistered ``*_full`` twin."""
    inv = file_inventory(spark, sf_dir, glob="*.parquet")
    return inv.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"), "length"
    ).orderBy("file_name")


_INVENTORY_BITS = [
    "scan_nonempty_ok",
    "length_equals_bytes_read_ok",
    "parquet_magic_ok",
    "ext_filter_ok",
]

FILE_INVENTORY_ORACLE = _const_true_rows_sql(
    [f"{t}.parquet" for t in FIXTURE_TABLES], "file_name", _INVENTORY_BITS
)


def inventory_facts(
    spark: SparkSession, path: str, glob: str = "*.parquet"
) -> DataFrame:
    """Per-file scan facts the certificate bits are derived from: the
    catalog-claimed ``length``, the byte count of the ACTUALLY READ
    content (an independent source — the metadata listing vs the bytes on
    the wire), and the decoded 4-byte head/tail magic."""
    return binary_files(spark, path, glob).select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "length",
        F.length("content").cast("long").alias("n_bytes"),
        F.expr("decode(substring(content, 1, 4), 'UTF-8')").alias("head4"),
        F.expr("decode(substring(content, -4, 4), 'UTF-8')").alias("tail4"),
    )


def inventory_bits(facts: DataFrame) -> DataFrame:
    """Certificate-bit projection over an ``inventory_facts`` frame —
    factored out so the flip test corrupts a facts table and derives bits
    through the SAME code the registered query runs."""
    return facts.select(
        "file_name",
        (F.col("length") > 0).alias("scan_nonempty_ok"),
        (F.col("length") == F.col("n_bytes")).alias(
            "length_equals_bytes_read_ok"
        ),
        (
            (F.col("head4") == "PAR1") & (F.col("tail4") == "PAR1")
        ).alias("parquet_magic_ok"),
        F.col("file_name").endswith(".parquet").alias("ext_filter_ok"),
    ).orderBy("file_name")


@register("file_inventory", oracle=FILE_INVENTORY_ORACLE)
def file_inventory_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference client's directory scan, HASH-CHECKED via the per-file
    structural certificate (r08 R→H promotion — DuckDB has no directory
    scan, but it CAN re-state the constant fixture file list with every
    invariant TRUE):

    - ``scan_nonempty_ok``: the listing claims a positive size;
    - ``length_equals_bytes_read_ok``: the catalog-claimed ``length``
      equals the byte count of the content actually read — the metadata
      listing cross-checked against an independent source (the bytes);
    - ``parquet_magic_ok``: the read bytes start AND end with the PAR1
      magic — the scan surfaced real parquet files, not stubs;
    - ``ext_filter_ok``: the glob pushdown (``SpeedupClient.java:66-71``'s
      extension filter) let only ``*.parquet`` through.

    The numeric (file_name, length) table stays available as
    :func:`file_inventory_full`. Flip test:
    ``tests/test_chunkers.py::test_inventory_bits_flip``.
    """
    return inventory_bits(inventory_facts(spark, sf_dir))
