"""Structural file chunkers: ORC stripes / Parquet column chunks -> chunk rows.

Spark rendering of the reference's ``eagerChunking`` (pure functions over
file bytes, executed distributed by ``sources.binaryfile.map_files`` — one
task per file, embarrassingly parallel at 100 TB):

- ORC stripe chunker: index/data/footer byte-ranges per stripe
  (``orc/dedup/NaiveORCChunkingAlgorithm.java:19-50``), file footer +
  postscript as Footer chunks, everything else gap-filled as Regular — so
  the chunk list always covers the file exactly (the property ``TestMain``
  checks by reassembling ``<file>.parsed``, ``main/TestMain.java:48-59``).
- Parquet chunker: PAGE-level chunks — every page header and page payload a
  separate span, typed per the reference taxonomy
  (``parquet/dedup/NaiveParquetChunkingAlgorithm.java:40-129,133-145``).
  The reference needs a parquet-mr fork for this; we walk the public Thrift
  compact encoding directly (``functions.parquetmeta``), and *do* dedup
  dictionary pages (the reference skips them — SURVEY §8.10 fix).

Signatures are md5 over the chunk's raw bytes (reference uses SHA-1,
``dedup/ChunkingAlgorithm.java:13-18``; md5 for DuckDB parity everywhere in
this engine). Chunk rows then flow into the same signature-probe dataflow as
row chunks (``operators.dedup.dedup_classify``).
"""

from __future__ import annotations

import hashlib
import io
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_aware_dedup_spark.functions.orcmeta import (
    column_spans,
    read_orc_structure,
)
from columnar_aware_dedup_spark.functions.parquetmeta import page_spans
from columnar_aware_dedup_spark.registry import register
from columnar_aware_dedup_spark.sources.binaryfile import (
    FIXTURE_TABLES,
    _const_true_rows_sql,
    base_name,
    binary_files,
    map_files,
)

#: output schema of every chunker (content deliberately excluded — signature
#: is computed in-task; reassembly tests use the pure functions below).
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("chunk_type", T.StringType(), False),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("start", T.LongType(), False),
        T.StructField("size", T.LongType(), False),
        T.StructField("signature", T.StringType(), False),
    ]
)


def _gap_fill(spans: list[dict], file_len: int) -> list[dict]:
    """Insert Regular chunks for uncovered byte ranges; guarantees exact
    cover of [0, file_len) so reassembly is concatenation.

    Overlapping spans (a malformed/hostile footer declaring stripes or
    column chunks that intersect) are a parse error, not a chunking: they
    would reassemble to duplicated bytes and silently corrupt the byte
    accounting.
    """
    spans.sort(key=lambda c: c["start"])
    out: list[dict] = []
    pos = 0
    for c in spans:
        if c["start"] < pos:
            raise ValueError(
                f"overlapping chunk spans: {c['chunk_type']} at {c['start']} "
                f"starts before cover position {pos}"
            )
        if c["start"] + c["size"] > file_len:
            raise ValueError(
                f"chunk span past EOF: {c['chunk_type']} "
                f"[{c['start']}, {c['start'] + c['size']}) > {file_len}"
            )
        if c["start"] > pos:
            out.append(
                {"chunk_type": "Regular", "column_name": None, "start": pos,
                 "size": c["start"] - pos}
            )
        out.append(c)
        pos = c["start"] + c["size"]
    if pos < file_len:
        out.append(
            {"chunk_type": "Regular", "column_name": None, "start": pos,
             "size": file_len - pos}
        )
    return out


def chunk_orc_bytes(data: bytes) -> list[dict]:
    """ORC stripe-level chunks (NaiveORC taxonomy: Data dedup-unit, index &
    stripe-footer Regular, file footer+postscript Footer)."""
    s = read_orc_structure(data)
    spans: list[dict] = []
    for st in s.stripes:
        spans.append(
            {"chunk_type": "Regular", "column_name": "index",
             "start": st.offset, "size": st.index_length}
        )
        spans.append(
            {"chunk_type": "Data", "column_name": None,
             "start": st.offset + st.index_length, "size": st.data_length}
        )
        spans.append(
            {"chunk_type": "Regular", "column_name": "stripe_footer",
             "start": st.offset + st.index_length + st.data_length,
             "size": st.footer_length}
        )
    # file footer + postscript + trailing length byte, one Footer chunk
    spans.append(
        {"chunk_type": "Footer", "column_name": None, "start": s.footer_start,
         "size": s.file_length - s.footer_start}
    )
    spans = [c for c in spans if c["size"] > 0]
    return _finish(spans, data)


def chunk_orc_columns_bytes(data: bytes) -> list[dict]:
    """ORC stripe+column chunks: per-stripe *per-column* data spans (dedup
    unit), stripe index/footer Regular, file footer Footer.

    The finer-grained flagship mode of the reference ("s+p"): whole-stripe
    chunks carry per-column subchunks so a changed column only re-ships
    itself (``ColumnBasedORCChunkingAlgorithm.java:22-97``,
    ``StripePlusColumnORCChunkingAlgorithm.java:26-119``). Here the
    hierarchy is flat rows — parent stripe identity is recoverable from
    (file, stripe start) and the hierarchical probe runs in the dataflow
    (``operators.dedup.dedup_hierarchical``).
    """
    s = read_orc_structure(data)
    spans: list[dict] = []
    for st in s.stripes:
        spans.append(
            {"chunk_type": "Regular", "column_name": "index",
             "start": st.offset, "size": st.index_length}
        )
        for col_id, start, size in column_spans(data, st, s.compression):
            spans.append(
                {"chunk_type": "Column", "column_name": f"col{col_id}",
                 "start": start, "size": size}
            )
        spans.append(
            {"chunk_type": "Regular", "column_name": "stripe_footer",
             "start": st.offset + st.index_length + st.data_length,
             "size": st.footer_length}
        )
    spans.append(
        {"chunk_type": "Footer", "column_name": None, "start": s.footer_start,
         "size": s.file_length - s.footer_start}
    )
    spans = [c for c in spans if c["size"] > 0]
    return _finish(spans, data)


def chunk_parquet_bytes(data: bytes) -> list[dict]:
    """Parquet PAGE-level chunks, matching the reference taxonomy
    (``NaiveParquetChunkingAlgorithm.java:133-145``): ParquetHeader (magic),
    per page a PageHeader chunk + a DictPage/DataPageV1/DataPageV2 payload
    chunk, ParquetFooter, AfterFooter (trailing footer-len + magic); gaps
    (column/offset indexes etc.) become Regular.

    The reference needs a customized parquet-mr fork for this walk
    (``README.md:5-23``); here the page headers are parsed directly from the
    public Thrift compact encoding (``functions.parquetmeta``). A column
    chunk whose page walk fails degrades to one ColumnChunk span (the r02
    granularity), keeping the cover exact. Dict pages ARE dedup units here —
    the reference skips them (``parquet/net/NaiveParquetStreamer.java:126-135``),
    a defect per SURVEY §8.10.
    """
    import pyarrow.parquet as pq

    if data[:4] != b"PAR1":
        raise ValueError("not a parquet file (missing magic)")
    footer_len = int.from_bytes(data[-8:-4], "little")
    if not 0 <= footer_len <= len(data) - 12:
        # 4 B leading magic + >=0 B body + footer + 8 B tail; anything else
        # is a truncated/corrupt file, not a negative-index Footer span.
        raise ValueError(
            f"parquet footer length {footer_len} out of bounds for "
            f"{len(data)}-byte file"
        )
    md = pq.ParquetFile(io.BytesIO(data)).metadata
    spans: list[dict] = [
        {"chunk_type": "ParquetHeader", "column_name": None, "start": 0,
         "size": 4}
    ]
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            start = col.data_page_offset
            if col.dictionary_page_offset is not None:
                start = min(start, col.dictionary_page_offset)
            try:
                for ptype, p_start, p_size in page_spans(
                    data, start, col.total_compressed_size
                ):
                    spans.append(
                        {"chunk_type": ptype,
                         "column_name": col.path_in_schema,
                         "start": p_start, "size": p_size}
                    )
            except (ValueError, IndexError):
                spans.append(
                    {"chunk_type": "ColumnChunk",
                     "column_name": col.path_in_schema,
                     "start": start, "size": col.total_compressed_size}
                )
    spans.append(
        {"chunk_type": "ParquetFooter", "column_name": None,
         "start": len(data) - 8 - footer_len, "size": footer_len}
    )
    spans.append(
        {"chunk_type": "AfterFooter", "column_name": None,
         "start": len(data) - 8, "size": 8}
    )
    spans = [c for c in spans if c["size"] > 0]
    return _finish(spans, data)


def _finish(spans: list[dict], data: bytes) -> list[dict]:
    chunks = _gap_fill(spans, len(data))
    for i, c in enumerate(chunks):
        c["chunk_idx"] = i
        c["signature"] = hashlib.md5(
            data[c["start"] : c["start"] + c["size"]]
        ).hexdigest()
    return chunks


def reassemble(data: bytes, chunks: list[dict]) -> bytes:
    """Concatenate chunk byte ranges in order — must equal the input
    (the ``TestMain`` round-trip identity, ``main/TestMain.java:48-59``)."""
    return b"".join(data[c["start"] : c["start"] + c["size"]] for c in chunks)


# ---------------------------------------------------------------------------
# distributed wrappers
#
# Every Spark table below is ``map_files(binary_files(spark, paths, glob),
# rows_fn, schema)`` from ``sources.binaryfile``: the pure chunkers above do
# the work, and a wrapper only supplies ``rows_fn(path, data)``, which names
# the file in its rows (full path here). The streaming ingest runs the same
# ``file_chunk_rows`` over its file stream.
# ---------------------------------------------------------------------------


def tag(chunks: list[dict], **cols) -> list[dict]:
    """Set ``cols`` (the file name, a mode) on every chunk dict in place
    and return the chunks: the chunker's own dicts are the output rows."""
    for c in chunks:
        c.update(cols)
    return chunks


def file_chunk_rows(
    path: str, data: bytes, orc_chunker=chunk_orc_bytes
) -> list[dict]:
    """The chunk rows of one file, keyed by its full path: ORC through
    ``orc_chunker``, parquet through the page walk; any other file has
    none."""
    if path.endswith(".orc"):
        return tag(orc_chunker(data), file=path)
    if path.endswith(".parquet"):
        return tag(chunk_parquet_bytes(data), file=path)
    return []


def chunk_files(
    spark: SparkSession, path: str, glob: str = "*", orc_mode: str = "stripes"
) -> DataFrame:
    """binaryFile scan -> chunk table, one parse task per file.

    ``orc_mode='columns'`` selects the stripe+column chunker (finer dedup
    units, the reference's flagship "s+p" mode). At 100 TB this is file-level
    parallel; per-file memory is bounded by the largest file (binaryFile
    materializes content per row — cap input file size upstream or
    stripe-stream via range reads for multi-GB files).
    """
    rows = file_chunk_rows
    if orc_mode == "columns":
        rows = partial(file_chunk_rows, orc_chunker=chunk_orc_columns_bytes)
    return map_files(binary_files(spark, path, glob), rows, CHUNK_SCHEMA)


def binary_transfer_stats(
    spark: SparkSession,
    store_dir: str,
    incoming_dir: str,
    glob: str = "*",
    orc_mode: str = "columns",
) -> DataFrame:
    """The reference's end-to-end pipeline, distributed: chunk every file in
    ``store_dir`` (the server's warm chunk store), chunk every file in
    ``incoming_dir`` (the client's send queue), probe signatures, and account
    bytes per chunk type.

    This is the *binary* twin of the row-level flagship ``dedup_hit_miss``:
    same probe dataflow (``operators.dedup.dedup_classify`` /
    ``transfer_rollup``), fed by the structural chunkers instead of row
    chunks — the full client/server session
    (``net/SpeedupClient.java:73-153`` -> ``SpeedupServer.run``) as one job
    with no per-chunk round trips.
    """
    from columnar_aware_dedup_spark.operators.dedup import (
        dedup_classify,
        transfer_rollup,
    )

    store = chunk_files(spark, store_dir, glob, orc_mode).select("signature")
    incoming = chunk_files(spark, incoming_dir, glob, orc_mode)
    return transfer_rollup(dedup_classify(incoming, store), key="chunk_type")


_RECON_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
        T.StructField("reassembled_md5", T.StringType(), False),
        T.StructField("original_md5", T.StringType(), False),
        T.StructField("identical", T.BooleanType(), False),
    ]
)


def reconstruct_files(files: DataFrame, chunker=chunk_orc_bytes) -> DataFrame:
    """Distributed byte-exact reconstruction check: re-chunk each file and
    reassemble in chunk order; emit per-file identity verdicts.

    The Spark form of the server-side file sink + the ``TestMain``
    ``<file>.parsed`` golden (``net/SpeedupReceiver.java:87-161``,
    ``main/TestMain.java:48-59``): instead of writing bytes back to disk we
    prove the chunk cover is exact, per file, in parallel.
    """

    def _recon(path: str, data: bytes) -> list[dict]:
        chunks = chunker(data)
        rebuilt = reassemble(data, chunks)
        return [
            {
                "file": path,
                "n_chunks": len(chunks),
                "reassembled_md5": hashlib.md5(rebuilt).hexdigest(),
                "original_md5": hashlib.md5(data).hexdigest(),
                "identical": rebuilt == data,
            }
        ]

    return map_files(files, _recon, _RECON_SCHEMA)


PARQUET_RECON_ORACLE = _const_true_rows_sql(
    [f"{t}.parquet" for t in FIXTURE_TABLES],
    "file_name",
    ["chunked_ok", "identical"],
)


def parquet_reconstruction_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file reconstruction verdicts with the raw chunk counts (the
    unregistered census twin of :func:`parquet_reconstruction`)."""
    files = binary_files(spark, sf_dir, "*.parquet")
    return reconstruct_files(files, chunker=chunk_parquet_bytes).select(
        F.element_at(F.split("file", "/"), -1).alias("file_name"),
        "n_chunks",
        "identical",
    ).orderBy("file_name")


@register("parquet_reconstruction", oracle=PARQUET_RECON_ORACLE)
def parquet_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-exact chunk-cover identity for every fixture parquet file,
    HASH-CHECKED: per file, ``identical`` proves reassembling the page-walk
    chunks reproduces the original bytes (computed in-task on the real
    bytes), ``chunked_ok`` proves the walk emitted a real multi-chunk
    structure. The oracle re-states the constant fixture file list with
    every bit TRUE — any chunker defect flips a bit and breaks the hash."""
    return parquet_reconstruction_full(spark, sf_dir).select(
        "file_name",
        (F.col("n_chunks") >= 2).alias("chunked_ok"),
        "identical",
    )


_PARSE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("n_chunks", T.IntegerType(), False),
        T.StructField("parse_ms", T.DoubleType(), False),
    ]
)


@register("file_parse_overhead")  # rows-only: wall-clock is nondeterministic
def file_parse_overhead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParsingOverhead per file: wall time of the structural parse.

    The reference records the same stat around ``eagerChunking``
    (``orc/net/StripePlusColumnORCStreamer.java:319-322``,
    ``common/TransferStats.java:93``).
    """
    import time

    def _timed(path: str, data: bytes) -> list[dict]:
        t0 = time.perf_counter()
        chunks = chunk_parquet_bytes(data)
        return [
            {
                "file": base_name(path),
                "n_chunks": len(chunks),
                "parse_ms": round((time.perf_counter() - t0) * 1e3, 3),
            }
        ]

    files = binary_files(spark, sf_dir, "*.parquet")
    return map_files(files, _timed, _PARSE_SCHEMA).orderBy("file")


def cover_certificate(chunks: DataFrame, page_type: str, footer_type: str) -> DataFrame:
    """Per-file structural-cover certificate from a chunk table:

    - ``cover_contiguous_ok``: sorted by start, every chunk begins exactly
      where the previous one ended and the first begins at 0 — no gaps, no
      overlaps (the property that makes reassembly pure concatenation);
    - ``bytes_sum_equals_span_ok``: sum(size) equals the covered span —
      with contiguity, the byte accounting is exact;
    - ``structure_parsed_ok``: at least one real structural chunk of
      ``page_type`` — proves the format walk ran, not a whole-file
      fallback;
    - ``footer_ok``: exactly one ``footer_type`` chunk.

    The per-file window is bounded by that file's chunk count (thousands,
    not corpus-sized), so the sort stays partition-local at 100 TB.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("file").orderBy("start")
    prev_end = F.lag(F.col("start") + F.col("size")).over(w)
    gap = F.when(prev_end.isNull(), F.col("start")).otherwise(
        F.col("start") - prev_end
    )
    return (
        chunks.withColumn("gap", gap)
        .groupBy("file")
        .agg(
            (F.max(F.abs("gap")) == 0).alias("cover_contiguous_ok"),
            (
                F.sum("size") == F.max(F.col("start") + F.col("size"))
            ).alias("bytes_sum_equals_span_ok"),
            (
                F.sum((F.col("chunk_type") == page_type).cast("int")) > 0
            ).alias("structure_parsed_ok"),
            (
                F.sum((F.col("chunk_type") == footer_type).cast("int")) == 1
            ).alias("footer_ok"),
        )
    )


PARQUET_CHUNKS_ORACLE = _const_true_rows_sql(
    [f"{t}.parquet" for t in FIXTURE_TABLES],
    "file_name",
    [
        "cover_contiguous_ok",
        "bytes_sum_equals_span_ok",
        "structure_parsed_ok",
        "footer_ok",
    ],
)


@register("parquet_file_chunks", oracle=PARQUET_CHUNKS_ORACLE)
def parquet_file_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-granularity chunking of the fixture parquet files, HASH-CHECKED
    via the per-file structural certificate: the in-plan booleans prove the
    Thrift page walk produced an exact, gap-free, footer-terminated cover
    of every file (DuckDB cannot chunk binary files, but it can re-state
    the constant fixture file list with every invariant TRUE). The raw
    chunk table is :func:`chunk_files`."""
    chunks = chunk_files(spark, sf_dir, glob="*.parquet")
    return cover_certificate(chunks, "PageHeader", "ParquetFooter").select(
        F.element_at(F.split("file", "/"), -1).alias("file_name"),
        "cover_contiguous_ok",
        "bytes_sum_equals_span_ok",
        "structure_parsed_ok",
        "footer_ok",
    )
