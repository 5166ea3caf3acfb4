"""Content-defined chunking (FastCDC-style Gear hash) — the classic dedup
baseline the reference's columnar-aware chunkers are an answer to.

Why it exists: the reference's whole thesis (``README.md:5-23``) is that
STRUCTURE-aware chunking (ORC stripes/columns, parquet pages) finds
duplicates that byte-oriented chunkers miss, because a one-column change
re-compresses and SHIFTS every downstream byte. The literature's standard
byte-oriented baselines are fixed-size blocks and content-defined chunking
(Gear/FastCDC: cut where a rolling hash of the trailing bytes matches a
mask, so boundaries re-synchronize after an insertion). This module
implements both baselines so the engine can MEASURE the thesis on its own
fixtures (``cdc_dedup_report``): fixed-size vs content-defined vs
structural dedup on the same ORC snapshot workload.

Chunking discipline (normalized two-mask FastCDC):

- minimum chunk ``_MIN`` (no cut judged before it), normalization point
  ``_NORMAL``, hard maximum ``_MAX``;
- before ``_NORMAL`` the STRICT mask (13 bits) must match — cuts are rare,
  pushing lengths toward the normalization point; after it the EASY mask
  (9 bits) applies — a cut arrives within ~512 bytes in expectation;
- no match by ``_MAX`` forces a cut (bounded chunk size is what bounds
  per-chunk memory and store-key skew at 100 TB).

Vectorized kernel: Gear's rolling hash is ``h = (h << 1) + gear[b]`` — the
contribution of the byte ``j`` positions back is ``gear[b] << j``, so
``h mod 2**W`` depends on only the trailing ``W`` bytes. Both masks live in
the low 13 bits, so the judged quantity is exactly ``sum_{j<13}
(gear16[data[i-j]] << j) mod 2**16`` — computed for EVERY position with 13
shifted adds on a uint16 numpy array (no per-byte Python loop), after
which candidate positions are sparse (~1/512) and the min/normal/max walk
touches only candidates. A per-byte scalar Gear loop (reset at each chunk
start) judges identically once the window is warm, and ``_MIN >= 16``
guarantees it always is — parity with the classic sequential definition is
pinned in ``tests/test_cdc.py``.

Scale: one task per file via the shared per-file parse loop
(``sources.binaryfile.map_files``) — embarrassingly parallel, no shuffle
until the signature probe, identical dataflow to the structural chunkers.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnar_aware_dedup_spark.registry import register
from columnar_aware_dedup_spark.sources.binaryfile import (
    FIXTURE_TABLES,
    _const_true_rows_sql,
    binary_files,
    map_files,
)
from columnar_aware_dedup_spark.sources.chunkers import (
    CHUNK_SCHEMA,
    _finish,
    chunk_orc_columns_bytes,
    chunk_parquet_bytes,
    tag,
)

_MIN = 512
_NORMAL = 2048
_MAX = 8192
_MASK_S = 0x1FFF  # 13 bits: strict phase, expected gap 8192
_MASK_L = 0x01FF  # 9 bits: easy phase, expected gap 512
_HASH_BYTES = 13  # mask width == effective rolling window (see module doc)

#: 256-entry Gear table, derived from md5 of a public constant string so it
#: is reproducible everywhere without shipping a blob. uint16 is enough:
#: only the low 13 bits are ever judged.
GEAR16 = np.array(
    [
        int(hashlib.md5(f"cawd-gear:{i}".encode()).hexdigest()[:4], 16)
        for i in range(256)
    ],
    dtype=np.uint16,
)


def gear_hashes(data: bytes) -> np.ndarray:
    """Low-16-bit Gear hash at EVERY position (windowed sum over the
    trailing 13 bytes; positions < 12 carry a short window, but no cut is
    ever judged before ``_MIN``)."""
    g = GEAR16[np.frombuffer(data, dtype=np.uint8)]
    h = g.copy()
    for j in range(1, _HASH_BYTES):
        h[j:] += g[: len(g) - j] << np.uint16(j)
    return h


def cdc_cut_points(data: bytes) -> list[int]:
    """Internal cut offsets (exclusive chunk ends, ascending, < len)."""
    n = len(data)
    if n <= _MIN:
        return []
    h = gear_hashes(data)
    # sparse candidates: easy-mask hits; strict hits are a subset because
    # _MASK_L's bits are contained in _MASK_S's.
    l_hits = np.flatnonzero((h & np.uint16(_MASK_L)) == 0)
    s_flag = (h[l_hits] & np.uint16(_MASK_S)) == 0
    cuts: list[int] = []
    c = 0
    while n - c > _MIN:
        limit = min(c + _MAX, n)
        cut = None
        lo = int(np.searchsorted(l_hits, c + _MIN - 1))
        for k in range(lo, len(l_hits)):
            pos = int(l_hits[k])
            if pos >= limit - 1 and limit < n:
                break  # forced cut takes over
            if pos >= n - 1:
                break  # a cut at EOF is not a cut
            if pos < c + _NORMAL - 1:
                if s_flag[k]:
                    cut = pos + 1
                    break
            else:
                cut = pos + 1
                break
        if cut is None:
            if limit < n:
                cut = limit  # max-size forced cut
            else:
                break  # tail (<= _MAX) becomes the final chunk
        cuts.append(cut)
        c = cut
    return cuts


def chunk_cdc_bytes(data: bytes) -> list[dict]:
    """FastCDC chunk rows over raw bytes (chunk_type ``CDC``), in the shared
    chunker dict format (md5 signatures, gap-free cover by construction)."""
    bounds = [0, *cdc_cut_points(data), len(data)]
    spans = [
        {
            "chunk_type": "CDC",
            "column_name": None,
            "start": a,
            "size": b - a,
        }
        for a, b in zip(bounds, bounds[1:])
        if b > a
    ]
    return _finish(spans, data)


def chunk_fixed_bytes(data: bytes, size: int = _NORMAL) -> list[dict]:
    """Fixed-size block chunking (chunk_type ``Fixed``) — the weakest
    baseline: any byte shift breaks every downstream block signature."""
    spans = [
        {
            "chunk_type": "Fixed",
            "column_name": None,
            "start": a,
            "size": min(size, len(data) - a),
        }
        for a in range(0, len(data), size)
    ]
    return _finish(spans, data)


def cdc_chunk_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """binaryFile scan -> CDC chunk table, one parse task per file (the
    structural chunkers' distributed shape, format-agnostic: every file is
    chunked, whatever its extension)."""

    def _rows(path: str, data: bytes) -> list[dict]:
        return tag(chunk_cdc_bytes(data), file=path)

    return map_files(binary_files(spark, path, glob), _rows, CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# registered certificate: the CDC cover is structurally sound on the fixtures
# ---------------------------------------------------------------------------

_CDC_BITS = [
    "cover_contiguous_ok",
    "bytes_sum_equals_span_ok",
    "max_size_ok",
    "min_size_ok",
    "content_cut_ok",
]

CDC_CHUNKS_ORACLE = _const_true_rows_sql(
    [f"{t}.parquet" for t in FIXTURE_TABLES], "file_name", _CDC_BITS
)


def cdc_cover_certificate(chunks: DataFrame) -> DataFrame:
    """Per-file certificate over a CDC chunk table:

    - ``cover_contiguous_ok`` / ``bytes_sum_equals_span_ok``: the
      gap-free-cover pair shared with the structural certificates
      (``sources.chunkers.cover_certificate``);
    - ``max_size_ok``: no chunk exceeds ``_MAX`` — the bounded-chunk
      guarantee that keeps per-chunk memory flat at 100 TB;
    - ``min_size_ok``: every chunk but the file's last is >= ``_MIN`` (the
      final tail may be short);
    - ``content_cut_ok``: whenever the file was cut at all (it has
      non-final chunks), at least one cut was content-defined, i.e. some
      non-final chunk ends short of the forced ``_MAX`` — proves the Gear
      judging ran, not a degenerate fixed-``_MAX`` slicer. A file small
      enough to be a single chunk (``region.parquet`` at every SF) passes
      vacuously: no cut was needed, so none can be judged.

    Per-file window ordered by ``start`` — partition-local, thousands of
    chunks per file at most.
    """
    w = Window.partitionBy("file").orderBy("start")
    prev_end = F.lag(F.col("start") + F.col("size")).over(w)
    gap = F.when(prev_end.isNull(), F.col("start")).otherwise(
        F.col("start") - prev_end
    )
    is_last = F.col("start") + F.col("size") == F.max(
        F.col("start") + F.col("size")
    ).over(Window.partitionBy("file"))
    return (
        chunks.withColumn("gap", gap)
        .withColumn("is_last", is_last)
        .groupBy("file")
        .agg(
            (F.max(F.abs("gap")) == 0).alias("cover_contiguous_ok"),
            (
                F.sum("size") == F.max(F.col("start") + F.col("size"))
            ).alias("bytes_sum_equals_span_ok"),
            (F.max("size") <= _MAX).alias("max_size_ok"),
            (
                F.sum(
                    ((F.col("size") < _MIN) & ~F.col("is_last")).cast("int")
                )
                == 0
            ).alias("min_size_ok"),
            (
                (F.sum((~F.col("is_last")).cast("int")) == 0)
                | (
                    F.sum(
                        ((F.col("size") < _MAX) & ~F.col("is_last")).cast(
                            "int"
                        )
                    )
                    > 0
                )
            ).alias("content_cut_ok"),
        )
    )


@register("cdc_file_chunks", oracle=CDC_CHUNKS_ORACLE)
def cdc_file_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastCDC chunking of the fixture parquet files, HASH-CHECKED via the
    per-file cover/size-bound certificate (module doc; DuckDB cannot run a
    Gear hash over file bytes, but it can re-state the constant fixture
    file list with every invariant TRUE — flip test
    ``tests/test_cdc.py::test_cdc_certificate_bits_flip``). The raw chunk
    census stays available via :func:`cdc_chunk_files`."""
    chunks = cdc_chunk_files(spark, sf_dir, glob="*.parquet")
    return (
        cdc_cover_certificate(chunks)
        .select(
            F.element_at(F.split("file", "/"), -1).alias("file_name"),
            *_CDC_BITS,
        )
        .orderBy("file_name")
    )


# ---------------------------------------------------------------------------
# the thesis measured: fixed vs CDC vs structural dedup on the ORC workload
# ---------------------------------------------------------------------------

_MODE_SCHEMA = T.StructType(
    [T.StructField("mode", T.StringType(), False), *CHUNK_SCHEMA.fields]
)

#: the three chunking disciplines under comparison; ``structural`` is the
#: reference's s+p column-level chunker (``chunkers.chunk_orc_columns_bytes``).
_REPORT_MODES = ("fixed", "cdc", "structural")


def _mode_chunks(
    spark: SparkSession, path: str, fmt: str = "orc"
) -> DataFrame:
    """(mode, file, chunk...) rows for all three disciplines.

    r12 (guide §2.6 idle capacity): the three chunkers used to run
    SERIALLY inside one python task per file, so the comparison's
    wall-clock was 3 x the slowest kernel on ~n_files tasks while the
    other cores idled. Each mode now gets its own binaryFile scan +
    single-mode ``map_files``, unioned — 3 x n_files one-mode tasks that the
    scheduler runs concurrently. The extra cost is re-reading the file
    bytes per mode (no shuffle is introduced); locally that is page
    cache, and at 100 TB the trade is explicit: 3 x read bandwidth
    against 3 x kernel parallelism — for CPU-bound chunkers (the Gear
    kernel judges every byte) the parallel form wins whenever scan
    bandwidth isn't the binding resource. Row content is unchanged
    (same chunkers, same files, mode tags identical), so every consumer
    — the accounting joins, the certificate bits, the oracle — sees the
    identical relation."""
    structural = (
        chunk_orc_columns_bytes if fmt == "orc" else chunk_parquet_bytes
    )
    fns = {
        "fixed": chunk_fixed_bytes,
        "cdc": chunk_cdc_bytes,
        "structural": structural,
    }

    def _rows(mode: str):
        fn = fns[mode]
        return lambda path, data: tag(fn(data), mode=mode, file=path)

    out = None
    for mode in fns:
        part = map_files(
            binary_files(spark, path, f"*.{fmt}"), _rows(mode), _MODE_SCHEMA
        )
        out = part if out is None else out.unionByName(part)
    return out


def cdc_dedup_report_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (mode, incoming file) byte accounting of the three-way chunking
    comparison over the ORC snapshot workload (``orcfixtures``): chunk the
    store snapshot and the incoming files under each mode, probe incoming
    signatures against that mode's store set, and account hit/miss bytes.

    This is the engine measuring the reference's thesis on its own
    fixtures: a one-column change (``lineitem_mod.orc``) re-compresses and
    shifts downstream bytes, so byte-oriented chunkers (fixed, CDC) lose
    most of the dedup that column-level structural chunking keeps
    (measured ~0.53-0.86 / ~0.67 / ~0.93 hit ratio respectively — the
    certificate pins only the robust ordering, see
    :func:`cdc_dedup_report`).

    Scale shape: one parse task per (file, mode) — the three chunkers run
    concurrently since r12 (see :func:`_mode_chunks`); ONE signature-keyed
    shuffle for the probe; the rollup is 9 rows.
    """
    from columnar_aware_dedup_spark.sources.orcfixtures import orc_fixture_dirs

    return _mode_dedup_accounting(spark, *orc_fixture_dirs(sf_dir), fmt="orc")


def _mode_dedup_accounting(
    spark: SparkSession, store_dir: str, incoming_dir: str, fmt: str
) -> DataFrame:
    """The per-(mode, incoming file) hit/miss byte accounting shared by the
    ORC report and its parquet twin: chunk both snapshot sides under every
    mode, probe incoming signatures against that mode's store set, roll up."""
    store_sigs = (
        _mode_chunks(spark, store_dir, fmt).select("mode", "signature").distinct()
    )
    incoming = _mode_chunks(spark, incoming_dir, fmt)
    probed = incoming.join(
        store_sigs.withColumn("hit", F.lit(True)), ["mode", "signature"], "left"
    )
    return (
        probed.groupBy(
            "mode", F.element_at(F.split("file", "/"), -1).alias("file_name")
        )
        .agg(
            F.sum("size").alias("total_bytes"),
            F.sum(F.when(F.col("hit"), F.col("size")).otherwise(0)).alias(
                "hit_bytes"
            ),
            F.sum(F.when(F.col("hit").isNull(), F.col("size")).otherwise(0)).alias(
                "miss_bytes"
            ),
        )
        .withColumn(
            "dedup_ratio", F.round(F.col("hit_bytes") / F.col("total_bytes"), 4)
        )
        .orderBy("mode", "file_name")
    )


_REPORT_FILES = ("lineitem.orc", "lineitem_mod.orc", "orders_new.orc")

_REPORT_BITS = ["accounting_ok", "expected_dedup_ok", "structural_max_on_mod_ok"]

CDC_REPORT_ORACLE = (
    "SELECT mode, file_name, "
    + ", ".join(f"TRUE AS {b}" for b in _REPORT_BITS)
    + " FROM (VALUES "
    + ", ".join(
        f"('{m}', '{f}')" for m in _REPORT_MODES for f in _REPORT_FILES
    )
    + ") t(mode, file_name) ORDER BY mode, file_name"
)


@register("cdc_dedup_report", oracle=CDC_REPORT_ORACLE)
def cdc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-vs-CDC-vs-structural comparison, HASH-CHECKED via per-row
    certificate bits (the numeric table is engine-side only —
    :func:`cdc_dedup_report_full`):

    - ``accounting_ok``: hit + miss bytes == total bytes (every mode, every
      file — the byte accounting is conservation-exact);
    - ``expected_dedup_ok``, file-conditional: the append-layout snapshot
      must dedup (> 0 hit bytes) under EVERY mode; the one-column-modified
      file must dedup under the byte-shift-RESILIENT modes (CDC
      re-synchronizes, structural re-finds unchanged columns — fixed-size
      blocks are exempt because collapsing to zero once the first changed
      byte lands inside block 0 is exactly the weakness under measurement);
      the brand-new file must not dedup (< 1% hit bytes — structural
      chunking legitimately matches a few degenerate empty-stream spans,
      so exact zero would overfit);
    - ``structural_max_on_mod_ok``: on the modified file, no byte-oriented
      mode beats structural chunking's hit bytes — the reference's thesis
      (``README.md:5-23``) as a falsifiable invariant. TRUE by definition
      on the other files.

    Flip test: ``tests/test_cdc.py::test_report_bits_flip``.
    """
    return report_bits(cdc_dedup_report_full(spark, sf_dir))


def report_bits(
    full: DataFrame,
    mod_name: str = "lineitem_mod.orc",
    new_name: str = "orders_new.orc",
) -> DataFrame:
    """The certificate-bit projection over a (mode, file_name, total_bytes,
    hit_bytes, miss_bytes, ...) accounting table — factored out so the flip
    test corrupts an accounting table and derives bits through the SAME
    code the registered query runs; the modified/brand-new file names are
    parameters so the parquet twin reuses the projection verbatim."""
    # Global window over the accounting ROLLUP — at most |modes| x |files|
    # rows (9 here) regardless of corpus size, so the single partition is
    # bounded by construction (the constant-literal key spells that out and
    # keeps WindowExec from warning about an undefined partitioning).
    struct_mod_hit = F.max(
        F.when(
            (F.col("mode") == "structural")
            & (F.col("file_name") == mod_name),
            F.col("hit_bytes"),
        )
    ).over(Window.partitionBy(F.lit(1)))
    return full.select(
        "mode",
        "file_name",
        (
            F.col("hit_bytes") + F.col("miss_bytes") == F.col("total_bytes")
        ).alias("accounting_ok"),
        F.when(
            F.col("file_name") == new_name,
            F.col("hit_bytes") < 0.01 * F.col("total_bytes"),
        )
        # On the one-column-MODIFIED file only the byte-shift-resilient
        # modes owe hits: CDC re-synchronizes on content boundaries and
        # structural re-finds unchanged columns, but fixed-size blocks
        # legitimately collapse to zero once the first changed byte lands
        # inside block 0 (the thesis's own point; the parquet rg=500
        # layout does exactly that).
        .when(
            (F.col("file_name") == mod_name) & (F.col("mode") == "fixed"),
            F.lit(True),
        )
        .otherwise(F.col("hit_bytes") > 0)
        .alias("expected_dedup_ok"),
        F.when(
            F.col("file_name") == mod_name,
            F.col("hit_bytes") <= struct_mod_hit,
        )
        .otherwise(F.lit(True))
        .alias("structural_max_on_mod_ok"),
    ).orderBy("mode", "file_name")


# ---------------------------------------------------------------------------
# the parquet twin: the reference's OTHER format, same thesis measurement
# ---------------------------------------------------------------------------

_REPORT_FILES_PARQUET = (
    "lineitem.parquet",
    "lineitem_mod.parquet",
    "orders_new.parquet",
)

CDC_REPORT_PARQUET_ORACLE = (
    "SELECT mode, file_name, "
    + ", ".join(f"TRUE AS {b}" for b in _REPORT_BITS)
    + " FROM (VALUES "
    + ", ".join(
        f"('{m}', '{f}')" for m in _REPORT_MODES for f in _REPORT_FILES_PARQUET
    )
    + ") t(mode, file_name) ORDER BY mode, file_name"
)


def cdc_dedup_report_parquet_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fixed/CDC/structural byte accounting over the PARQUET snapshot
    workload (``orcfixtures.parquet_fixture_dirs``): structural mode is the
    page-level walker (``chunkers.chunk_parquet_bytes`` — the engine's
    re-expression of the reference's
    ``parquet/dedup/NaiveParquetChunkingAlgorithm.java:40-129``). Same plan
    shape as the ORC report: one task per (file, mode), ONE
    signature-keyed probe shuffle, 9-row rollup."""
    from columnar_aware_dedup_spark.sources.orcfixtures import (
        parquet_fixture_dirs,
    )

    return _mode_dedup_accounting(
        spark, *parquet_fixture_dirs(sf_dir), fmt="parquet"
    )


@register("cdc_dedup_report_parquet", oracle=CDC_REPORT_PARQUET_ORACLE)
def cdc_dedup_report_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-vs-CDC-vs-structural thesis measurement on the PARQUET
    workload (VERDICT r07 "Next round" #8 — the reference's claim spans
    both formats, and r07's ``cdc_dedup_report`` covered only ORC),
    HASH-CHECKED via the same per-row certificate bits: byte-accounting
    conservation, file-conditional expected dedup (append layout and
    one-column-modified must hit under every mode, brand-new content must
    not), and structural-beats-byte-oriented on the modified file. Numeric
    table: :func:`cdc_dedup_report_parquet_full`. Flip test:
    ``tests/test_cdc.py::test_report_bits_flip_parquet_names``."""
    return report_bits(
        cdc_dedup_report_parquet_full(spark, sf_dir),
        mod_name="lineitem_mod.parquet",
        new_name="orders_new.parquet",
    )
