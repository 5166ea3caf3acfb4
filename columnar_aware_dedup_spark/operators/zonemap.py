"""Zone-map (min/max) stripe pruning over raw ORC bytes, soundness-checked.

The scan-side intelligence a columnar engine adds on top of chunking
(SURVEY §2.1/§2.2: the reference walks stripes but never exploits their
statistics): ORC's Metadata section carries per-stripe min/max for every
column, and a predicate can skip whole stripes without touching their
bytes. This module reads those statistics with OUR protobuf walker
(``functions/orcmeta.py:read_stripe_column_stats``), recomputes the TRUTH
per stripe with pyarrow's independent ORC reader, and certifies three
facts per fixture file (``orc_zone_map_pruning``):

- ``stats_match_truth_ok`` — the writer's claimed per-stripe min/max of
  the lead (sort-key) column equals the values recomputed from the rows;
- ``pruning_sound_ok`` — every stripe whose claimed [min, max] misses the
  predicate band truly contains ZERO matching rows (the invariant that
  makes skipping safe);
- ``pruning_effective_ok`` — the band prunes at least one stripe AND
  keeps at least one (the fixtures are sort-keyed, so zone maps must
  actually bite; a census where nothing prunes would certify nothing).

The predicate band is derived from the claimed GLOBAL min/max (what a
real pruner has before touching data): the lowest quarter of the key
range. Each bit is falsifiable through the same derivation code on
fabricated stripe tables (``tests/test_zonemap.py``).

Scale shape: every table here is a pure per-file function (``*_rows`` /
``*_table``) run as the ``rows_fn`` of the shared per-file parse loop
(``sources.binaryfile.map_files``: one parse task per file);
statistics live in the file tail, so the certificate reads each stripe
once only to VERIFY — a production pruner reads none of the pruned
bytes, which is the point. Zero shuffles before the presentation sort.
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
    dir_name,
    map_files,
)
from columnar_aware_dedup_spark.sources.chunkers import tag
from columnar_aware_dedup_spark.sources.orcfixtures import (
    orc_fixture_dirs,
    orc_strmod_incoming_dir,
    parquet_fixture_dirs,
    parquet_strmod_incoming_dir,
)

#: the ORC snapshot workload files (``sources/orcfixtures.py`` layout).
_ZONE_FILES = (
    "store/lineitem.orc",
    "incoming/lineitem.orc",
    "incoming/lineitem_mod.orc",
    "incoming/orders_new.orc",
)

_ZONE_BITS = [
    "stats_match_truth_ok",
    "pruning_sound_ok",
    "pruning_effective_ok",
]

_STRIPE_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("stripe_idx", T.IntegerType(), False),
        T.StructField("claimed_min", T.LongType(), True),
        T.StructField("claimed_max", T.LongType(), True),
        T.StructField("true_min", T.LongType(), True),
        T.StructField("true_max", T.LongType(), True),
        T.StructField("band_lo", T.LongType(), False),
        T.StructField("band_hi", T.LongType(), False),
        T.StructField("n_band_matches", T.LongType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
)


def zone_map_stripe_table(file_name: str, data: bytes) -> list[dict]:
    """Per-stripe zone-map audit rows for one ORC file: the lead column's
    claimed min/max (our parser), the true min/max and in-band match count
    (pyarrow re-read), and the predicate band (lowest quarter of the
    claimed global key range)."""
    import pyarrow.compute as pc
    import pyarrow.orc as orc

    from columnar_aware_dedup_spark.functions.orcmeta import (
        read_stripe_column_stats,
    )

    stats = read_stripe_column_stats(data)
    o = orc.ORCFile(io.BytesIO(data))
    lead = o.schema.names[0]
    claimed = [
        (st[1]["int_min"], st[1]["int_max"]) if len(st) > 1 else (None, None)
        for st in stats
    ]
    gmin = min((c[0] for c in claimed if c[0] is not None), default=0)
    gmax = max((c[1] for c in claimed if c[1] is not None), default=0)
    band_lo, band_hi = gmin, gmin + (gmax - gmin) // 4
    rows = []
    for i in range(o.nstripes):
        col = o.read_stripe(i, columns=[lead])[lead]
        cmin, cmax = (
            claimed[i] if i < len(claimed) else (None, None)
        )
        in_band = pc.and_(
            pc.greater_equal(col, band_lo), pc.less_equal(col, band_hi)
        )
        rows.append(
            {
                "file_name": file_name,
                "stripe_idx": i,
                "claimed_min": cmin,
                "claimed_max": cmax,
                "true_min": pc.min(col).as_py(),
                "true_max": pc.max(col).as_py(),
                "band_lo": band_lo,
                "band_hi": band_hi,
                "n_band_matches": pc.sum(pc.cast(in_band, "int64")).as_py()
                or 0,
                "n_rows": len(col),
            }
        )
    return rows


def zone_map_bits(stripe_rows: list[dict]) -> dict[str, bool]:
    """The three certificate bits from a per-stripe audit table (module
    doc) — pure, so the flip tests corrupt fabricated tables through the
    SAME derivation the registered query runs. A stripe is PRUNED when its
    claimed range misses the band (None claims never prune — a pruner
    without statistics must read the stripe)."""
    stats_ok = all(
        r["claimed_min"] == r["true_min"] and r["claimed_max"] == r["true_max"]
        for r in stripe_rows
    )
    pruned = [
        r
        for r in stripe_rows
        if r["claimed_min"] is not None
        and r["claimed_max"] is not None
        and (r["claimed_max"] < r["band_lo"] or r["claimed_min"] > r["band_hi"])
    ]
    sound = all(r["n_band_matches"] == 0 for r in pruned)
    effective = 0 < len(pruned) < len(stripe_rows)
    return {
        "stats_match_truth_ok": stats_ok,
        "pruning_sound_ok": sound,
        "pruning_effective_ok": effective,
    }


def zone_map_stripe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric per-stripe audit table (engine-side twin)."""
    return map_files(
        binary_files(spark, list(orc_fixture_dirs(sf_dir)), "*.orc"),
        lambda path, data: zone_map_stripe_table(dir_name(path), data),
        _STRIPE_SCHEMA,
    )


ZONE_MAP_ORACLE = (
    "SELECT file_name, "
    + ", ".join(f"TRUE AS {b}" for b in _ZONE_BITS)
    + " FROM (VALUES "
    + ", ".join(f"('{f}')" for f in sorted(_ZONE_FILES))
    + ") t(file_name) ORDER BY file_name"
)


def zone_map_bits_df(audit: DataFrame) -> DataFrame:
    """The Spark rendering of :func:`zone_map_bits` — one file-keyed
    aggregation, no collect. ``tests/test_zonemap.py`` pins the two
    derivations row-for-row on the real audit table so they cannot
    drift."""
    from pyspark.sql import functions as F

    pruned = (
        F.col("claimed_min").isNotNull()
        & F.col("claimed_max").isNotNull()
        & (
            (F.col("claimed_max") < F.col("band_lo"))
            | (F.col("claimed_min") > F.col("band_hi"))
        )
    )
    mismatch = ~(
        F.col("claimed_min").eqNullSafe(F.col("true_min"))
        & F.col("claimed_max").eqNullSafe(F.col("true_max"))
    )
    unsound = pruned & (F.col("n_band_matches") > 0)
    return (
        audit.groupBy("file_name")
        .agg(
            (F.sum(mismatch.cast("int")) == 0).alias("stats_match_truth_ok"),
            (F.sum(unsound.cast("int")) == 0).alias("pruning_sound_ok"),
            F.sum(pruned.cast("int")).alias("_np"),
            F.count("*").alias("_n"),
        )
        .select(
            "file_name",
            "stats_match_truth_ok",
            "pruning_sound_ok",
            (
                (F.col("_np") > 0) & (F.col("_np") < F.col("_n"))
            ).alias("pruning_effective_ok"),
        )
        .orderBy("file_name")
    )


@register("orc_zone_map_pruning", oracle=ZONE_MAP_ORACLE)
def orc_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning certificate over the ORC snapshot workload (module
    doc): per file, the stats-match / pruning-soundness /
    pruning-effectiveness bits, HASH-CHECKED against DuckDB's constant
    re-statement of the fixture layout with every bit TRUE. Flip tests:
    ``tests/test_zonemap.py`` (through :func:`zone_map_bits`, whose
    Spark rendering below is parity-pinned). The per-stripe numeric audit
    stays available via :func:`zone_map_stripe_audit`."""
    return zone_map_bits_df(zone_map_stripe_audit(spark, sf_dir))


# ---------------------------------------------------------------------------
# the parquet twin: row-group zone maps from the footer statistics
# ---------------------------------------------------------------------------

#: the parquet snapshot workload files (``parquet_fixture_dirs`` layout).
_ZONE_FILES_PARQUET = (
    "store/lineitem.parquet",
    "incoming/lineitem.parquet",
    "incoming/lineitem_mod.parquet",
    "incoming/orders_new.parquet",
)

_RG_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("row_group_idx", T.IntegerType(), False),
        *_STRIPE_SCHEMA.fields[2:],
    ]
)


def zone_map_row_group_table(file_name: str, data: bytes) -> list[dict]:
    """Per-row-group zone-map audit rows for one parquet file: the lead
    column's claimed min/max from OUR footer walker
    (``functions/parquetmeta.py:read_footer_zone_maps`` — no pyarrow in the
    claim path), the true min/max and in-band match count from pyarrow's
    independent row-group read, and the same lowest-quarter predicate band
    as the ORC audit."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from columnar_aware_dedup_spark.functions.parquetmeta import (
        read_footer_zone_maps,
    )

    zones = read_footer_zone_maps(data)
    pf = pq.ParquetFile(io.BytesIO(data))
    lead = pf.schema_arrow.names[0]
    claimed = [
        (rg[0]["min"], rg[0]["max"]) if rg and rg[0]["path"] == lead else (None, None)
        for rg in zones
    ]
    gmin = min((c[0] for c in claimed if c[0] is not None), default=0)
    gmax = max((c[1] for c in claimed if c[1] is not None), default=0)
    band_lo, band_hi = gmin, gmin + (gmax - gmin) // 4
    rows = []
    for i in range(pf.metadata.num_row_groups):
        col = pf.read_row_group(i, columns=[lead])[lead]
        cmin, cmax = claimed[i] if i < len(claimed) else (None, None)
        in_band = pc.and_(
            pc.greater_equal(col, band_lo), pc.less_equal(col, band_hi)
        )
        rows.append(
            {
                "file_name": file_name,
                "row_group_idx": i,
                "claimed_min": cmin,
                "claimed_max": cmax,
                "true_min": pc.min(col).as_py(),
                "true_max": pc.max(col).as_py(),
                "band_lo": band_lo,
                "band_hi": band_hi,
                "n_band_matches": pc.sum(pc.cast(in_band, "int64")).as_py()
                or 0,
                "n_rows": len(col),
            }
        )
    return rows


def zone_map_row_group_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric per-row-group audit table (engine-side twin)."""
    return map_files(
        binary_files(spark, list(parquet_fixture_dirs(sf_dir)), "*.parquet"),
        lambda path, data: zone_map_row_group_table(dir_name(path), data),
        _RG_SCHEMA,
    )


ZONE_MAP_PARQUET_ORACLE = (
    "SELECT file_name, "
    + ", ".join(f"TRUE AS {b}" for b in _ZONE_BITS)
    + " FROM (VALUES "
    + ", ".join(f"('{f}')" for f in sorted(_ZONE_FILES_PARQUET))
    + ") t(file_name) ORDER BY file_name"
)


@register("parquet_zone_map_pruning", oracle=ZONE_MAP_PARQUET_ORACLE)
def parquet_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning certificate over the PARQUET snapshot workload —
    the other-format twin of ``orc_zone_map_pruning`` (the reference walks
    both formats; scan-side statistics exploitation should too). Claims
    come from OUR Thrift-compact footer walker
    (``read_footer_zone_maps`` — min_value/max_value of
    ``FileMetaData.row_groups[].columns[].meta_data.statistics``), truth
    from pyarrow's independent row-group read; the three bits
    (stats-match / pruning-soundness / pruning-effectiveness) and their
    Spark rendering are SHARED with the ORC certificate
    (:func:`zone_map_bits` / :func:`zone_map_bits_df`), so the two formats
    cannot drift on what "safe to skip" means. Flip tests:
    ``tests/test_zonemap.py`` (the shared derivation) +
    ``test_parquet_zone_walker_*`` (the walker itself). The per-row-group
    numeric audit stays available via :func:`zone_map_row_group_audit`."""
    return zone_map_bits_df(zone_map_row_group_audit(spark, sf_dir))


# ---------------------------------------------------------------------------
# the zone maps' dedup consumer: stats-pruned incremental stripe chunking
# ---------------------------------------------------------------------------

_PRUNE_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("stripe_idx", T.IntegerType(), False),
        T.StructField("stats_key", T.StringType(), True),
        T.StructField("signature", T.StringType(), False),
        T.StructField("data_size", T.LongType(), False),
    ]
)


#: the per-column ORC statistics fields the stats key serializes — every
#: family the walker parses (r10: integer-only keys degenerated to row
#: counts on string/double columns, VERDICT r09 "What's missing" #2).
#: r11: the ONE spelling moved to ``functions/orcmeta.py`` so the linked
#: s+p chunker attaches the same keys (these aliases keep this module's
#: derivations and tests reading naturally).
from columnar_aware_dedup_spark.functions.orcmeta import (  # noqa: E402
    ORC_STATS_KEY_FIELDS as _ORC_KEY_FIELDS,
    orc_stats_key as _orc_stats_key,
)


def stripe_stats_key_rows(file_name: str, data: bytes) -> list[dict]:
    """(stripe_idx, stats_key, signature, data_size) per stripe of one ORC
    file. ``stats_key`` serializes the Metadata section's FULL per-column
    statistics vector (n_values + integer/double/string/decimal/timestamp
    min/max per column, our protobuf walker —
    ``functions/orcmeta.py:read_stripe_column_stats``); the signature is
    the s+p data-region md5 the dedup store keys on
    (``sources/orcfixtures.py:chunk_orc_stripes_linked``). Byte-identical
    stripes decode to identical rows and therefore identical statistics,
    so a stats-key mismatch PROVES a signature mismatch — the direction
    that makes skipping the hash sound. A stripe without statistics gets a
    NULL key and is always treated as a candidate (never pruned)."""
    import hashlib

    from columnar_aware_dedup_spark.functions.orcmeta import (
        read_orc_structure,
        read_stripe_column_stats,
    )

    s = read_orc_structure(data)
    stats = read_stripe_column_stats(data)
    rows: list[dict] = []
    for i, st in enumerate(s.stripes):
        data_start = st.offset + st.index_length
        key = None
        if i < len(stats) and stats[i]:
            key = _orc_stats_key(stats[i])
        rows.append(
            {
                "file_name": file_name,
                "stripe_idx": i,
                "stats_key": key,
                "signature": hashlib.md5(
                    data[data_start : data_start + st.data_length]
                ).hexdigest(),
                "data_size": st.data_length,
            }
        )
    return rows


def stripe_stats_key_table(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan -> per-stripe (stats_key, signature, data_size)
    rows, one parse task per file (the chunker discipline)."""
    return map_files(
        binary_files(spark, path, "*.orc"),
        lambda p, data: stripe_stats_key_rows(base_name(p), data),
        _PRUNE_SCHEMA,
    )


#: the certificate bits, with the fixture's guaranteed per-file truth:
#: - lineitem.orc (snapshot B, append layout): A's prefix stripes
#:   stats-match the store -> candidates -> hash -> HIT; the appended /
#:   boundary stripes carry new key ranges -> pruned unhashed;
#: - lineitem_mod.orc (l_partkey + 7): the perturbed column shifts every
#:   stripe's statistics vector -> ALL stripes pruned, zero bytes hashed
#:   (the s+p column-level fallback for such files is
#:   ``orc_stats_pruned_columns`` / ``orc_hierarchical_dedup`` — stats
#:   pruning is the stripe-level front door);
#: - lineitem_strmod.orc (r10: l_returnflag 'A' -> 'B', constant byte
#:   length): every INTEGER/DOUBLE statistic matches the store, so the
#:   r09 integer-only keys would have hashed every stripe only to miss;
#:   the string statistics shift in every stripe, so the extended keys
#:   prune all of it unhashed — the row that proves string-keyed pruning
#:   works (VERDICT r09 "Next round" #2);
#: - orders_new.orc (different table): nothing stats-matches -> all
#:   pruned, zero bytes hashed.
_PRUNE_ROWS = {
    "lineitem.orc": ("TRUE", "TRUE"),
    "lineitem_mod.orc": ("FALSE", "FALSE"),
    "lineitem_strmod.orc": ("FALSE", "FALSE"),
    "orders_new.orc": ("FALSE", "FALSE"),
}

ORC_STATS_PRUNED_ORACLE = (
    "SELECT file_name, TRUE AS stats_prune_sound_ok,"
    " TRUE AS dedup_bytes_match_full_ok, has_candidates, has_hits,"
    " TRUE AS has_pruned, TRUE AS hashed_lt_total_ok"
    " FROM (VALUES "
    + ", ".join(
        f"('{f}', {cand}, {hits})"
        for f, (cand, hits) in sorted(_PRUNE_ROWS.items())
    )
    + ") t(file_name, has_candidates, has_hits) ORDER BY file_name"
)


@register("orc_stats_pruned_dedup", oracle=ORC_STATS_PRUNED_ORACLE)
def orc_stats_pruned_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned incremental chunking — the zone maps' DEDUP consumer
    (VERDICT r08 "What's missing" #4: the certificates proved the
    statistics sound but nothing used them to SKIP work). The two-snapshot
    flagship's stripe probe, with the reference's metadata-only thesis
    (ref ``README.md:5-7``) applied to the hashing itself: an incoming
    stripe whose per-column statistics vector matches NO store stripe
    cannot be byte-identical to any of them (identical bytes => identical
    rows => identical statistics), so it is a DEFINITE transfer miss
    decided from footer metadata alone — only stats-colliding candidates
    get their data region hashed and probed against the signature store.

    The certificate verifies, per incoming file, that the shortcut
    changed nothing and saved work: ``stats_prune_sound_ok`` (no pruned
    stripe was a signature hit — checked by hashing EVERYTHING in this
    audit run; a production pruner reads footers plus candidate regions
    only), ``dedup_bytes_match_full_ok`` (the pruned path's per-file
    dedup byte account equals the full probe's),
    ``hashed_lt_total_ok`` (bytes hashed strictly below bytes total —
    the saving is real for every incoming file), plus the fixture-shaped
    ``has_candidates`` / ``has_hits`` / ``has_pruned`` rows (constants
    restated by the DuckDB oracle — the trainer-certificate pattern this
    ORC family established).

    Scale shape: at 100 TB the store side is the persisted signature
    store plus a tiny per-stripe stats-key index (both bucketable); the
    incoming side reads file TAILS for the keys and data regions only for
    candidates. Here both sides derive in one parse task per file and the
    probes are two equi-joins (AQE broadcasts the fixture-sized store
    side at runtime; unhinted, the ``lsh_parameter_sweep`` lesson).
    """
    store_dir, incoming_dir = orc_fixture_dirs(sf_dir)
    return stats_pruned_certificate(
        _stats_pruned_probe(
            _orc_incoming_stats(spark, sf_dir, incoming_dir),
            stripe_stats_key_table(spark, store_dir),
        )
    )


def _orc_incoming_stats(
    spark: SparkSession, sf_dir: str, incoming_dir: str
) -> DataFrame:
    """The full incoming side of the ORC stats-pruned workload: the
    snapshot dir's three files plus the string-perturbed extra file
    (its own cache dir — see ``orcfixtures._strmod_incoming_dir``)."""
    return stripe_stats_key_table(spark, incoming_dir).unionByName(
        stripe_stats_key_table(spark, orc_strmod_incoming_dir(sf_dir))
    )


def _parquet_incoming_stats(
    spark: SparkSession, sf_dir: str, incoming_dir: str
) -> DataFrame:
    """Parquet twin of :func:`_orc_incoming_stats`."""
    return parquet_rg_stats_key_table(spark, incoming_dir).unionByName(
        parquet_rg_stats_key_table(
            spark, parquet_strmod_incoming_dir(sf_dir)
        )
    )


def _stats_pruned_probe(inc: DataFrame, store: DataFrame) -> DataFrame:
    """(file_name, data_size, cand, hit) per incoming region from two
    ``(file_name, *, stats_key, signature, data_size)`` tables — the
    format-agnostic middle of the stats-pruned dedup (ORC stripes and
    parquet row groups feed the same probe + certificate)."""
    store = store.localCheckpoint(eager=False)
    store_keys = (
        store.select("stats_key")
        .filter(F.col("stats_key").isNotNull())
        .distinct()
        .withColumn("_cand", F.lit(1))
    )
    store_sigs = (
        store.select("signature").distinct().withColumn("_hit", F.lit(1))
    )
    return (
        inc.join(store_keys, "stats_key", "left")
        .join(store_sigs, "signature", "left")
        .select(
            "file_name",
            "data_size",
            # a region with no statistics is never pruned (must hash)
            (
                F.col("_cand").isNotNull() | F.col("stats_key").isNull()
            ).alias("cand"),
            F.col("_hit").isNotNull().alias("hit"),
        )
    )


def stats_pruned_certificate(probed: DataFrame) -> DataFrame:
    """The per-file certificate bits from a per-stripe probed frame
    ``(file_name, data_size, cand, hit)`` — factored so the flip test
    (``tests/test_zonemap.py::test_stats_pruned_bits_flip``) can drive
    fabricated frames through the SAME derivation the registered query
    ships: a pruned-but-hit stripe must flip ``stats_prune_sound_ok``
    (and the byte parity), an all-candidate file must flip
    ``hashed_lt_total_ok``."""
    zero = F.lit(0).cast("bigint")
    per_file = probed.groupBy("file_name").agg(
        F.sum(F.when(F.col("hit") & ~F.col("cand"), 1).otherwise(0)).alias(
            "_unsound"
        ),
        F.coalesce(
            F.sum(F.when(F.col("hit"), F.col("data_size"))), zero
        ).alias("_dedup_full"),
        F.coalesce(
            F.sum(
                F.when(F.col("hit") & F.col("cand"), F.col("data_size"))
            ),
            zero,
        ).alias("_dedup_pruned"),
        F.coalesce(
            F.sum(F.when(F.col("cand"), F.col("data_size"))), zero
        ).alias("_hashed"),
        F.sum("data_size").alias("_total"),
        F.max(F.col("cand").cast("int")).alias("_any_cand"),
        F.max(F.col("hit").cast("int")).alias("_any_hit"),
        F.max((~F.col("cand")).cast("int")).alias("_any_pruned"),
    )
    return per_file.select(
        "file_name",
        (F.col("_unsound") == 0).alias("stats_prune_sound_ok"),
        (F.col("_dedup_full") == F.col("_dedup_pruned")).alias(
            "dedup_bytes_match_full_ok"
        ),
        (F.col("_any_cand") == 1).alias("has_candidates"),
        (F.col("_any_hit") == 1).alias("has_hits"),
        (F.col("_any_pruned") == 1).alias("has_pruned"),
        (F.col("_hashed") < F.col("_total")).alias("hashed_lt_total_ok"),
    ).orderBy("file_name")


def parquet_rg_stats_key_rows(file_name: str, data: bytes) -> list[dict]:
    """The parquet twin of :func:`stripe_stats_key_rows`: per row group,
    the FULL per-column statistics vector (path, value count, the RAW
    undecoded min/max statistics payloads, row count —
    ``read_footer_zone_maps``, our Thrift-compact walker) serialized as
    the stats key, plus the md5 of the row group's physical byte span
    (first page offset across its column chunks through the sum of their
    compressed sizes — offsets also from OUR walker, no pyarrow in the
    claim path). Keying on the raw payload hex (r10) makes EVERY physical
    type — BYTE_ARRAY strings, DOUBLE, INT96 — contribute its bounds to
    pruning without a per-type decoder; identical row groups
    byte-for-byte decode to identical rows and therefore identical footer
    statistics, so a stats-key mismatch proves a signature mismatch —
    same soundness direction as the ORC side."""
    import hashlib

    from columnar_aware_dedup_spark.functions.parquetmeta import (
        read_footer_zone_maps,
    )

    rows: list[dict] = []
    for i, cols in enumerate(read_footer_zone_maps(data)):
        key = "|".join(
            f"{c['path']}:{c['num_values']}:{c['min_raw']}:{c['max_raw']}"
            f":{c['num_rows']}"
            for c in cols
        ) or None
        starts = [c["start"] for c in cols if c["start"] is not None]
        nbytes = sum(c["nbytes"] or 0 for c in cols)
        start = min(starts) if starts else 0
        rows.append(
            {
                "file_name": file_name,
                "stripe_idx": i,
                "stats_key": key,
                "signature": hashlib.md5(
                    data[start : start + nbytes]
                ).hexdigest(),
                "data_size": nbytes,
            }
        )
    return rows


def parquet_rg_stats_key_table(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile scan -> per-row-group (stats_key, signature, data_size)
    rows, one parse task per file."""
    return map_files(
        binary_files(spark, path, "*.parquet"),
        lambda p, data: parquet_rg_stats_key_rows(base_name(p), data),
        _PRUNE_SCHEMA,
    )


_PRUNE_ROWS_PARQUET = {
    "lineitem.parquet": ("TRUE", "TRUE"),
    "lineitem_mod.parquet": ("FALSE", "FALSE"),
    "lineitem_strmod.parquet": ("FALSE", "FALSE"),
    "orders_new.parquet": ("FALSE", "FALSE"),
}

PARQUET_STATS_PRUNED_ORACLE = (
    "SELECT file_name, TRUE AS stats_prune_sound_ok,"
    " TRUE AS dedup_bytes_match_full_ok, has_candidates, has_hits,"
    " TRUE AS has_pruned, TRUE AS hashed_lt_total_ok"
    " FROM (VALUES "
    + ", ".join(
        f"('{f}', {cand}, {hits})"
        for f, (cand, hits) in sorted(_PRUNE_ROWS_PARQUET.items())
    )
    + ") t(file_name, has_candidates, has_hits) ORDER BY file_name"
)


@register("parquet_stats_pruned_dedup", oracle=PARQUET_STATS_PRUNED_ORACLE)
def parquet_stats_pruned_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned incremental chunking over PARQUET row groups — the
    other-format twin of ``orc_stats_pruned_dedup`` (this repo's house
    rule: the reference walks both formats, so every scan-side discipline
    ships in both). Same probe, same certificate, same fixture truth: an
    incoming row group whose per-column statistics vector matches no
    store row group is a definite miss decided from the footer alone
    (the perturbed ``l_partkey + 7`` shifts that column's min/max in
    EVERY row group, so lineitem_mod hashes ZERO bytes); snapshot B's
    A-prefix row groups stats-collide, hash, and hit. Both the statistics
    and the hashed byte spans come from OUR Thrift-compact footer walker
    — pyarrow appears nowhere in the claim path."""
    store_dir, incoming_dir = parquet_fixture_dirs(sf_dir)
    return stats_pruned_certificate(
        _stats_pruned_probe(
            _parquet_incoming_stats(spark, sf_dir, incoming_dir),
            parquet_rg_stats_key_table(spark, store_dir),
        )
    )


# ---------------------------------------------------------------------------
# the column-level fallback: per-column stats pruning for stripe-missed
# stripes (VERDICT r09 "Next round" #7 — the stripe front door shipped in
# r09; a stats-missed stripe still hashed ALL its columns)
# ---------------------------------------------------------------------------

def stripe_column_stats_key_rows(file_name: str, data: bytes) -> list[dict]:
    """(stripe_idx, stats_key, signature, data_size) per (stripe, COLUMN)
    of one ORC file: the stats key is the column id plus that column's
    full statistics vector from the SAME Metadata walk the stripe keys
    come from (``read_stripe_column_stats`` — no extra footer read), the
    signature is the md5 over the column's coalesced data-region spans
    (``column_spans``, the s+p subchunk geometry). Identical column bytes
    decode to identical values and therefore identical column statistics,
    so a per-column stats-key mismatch proves a per-column signature
    mismatch — the stripe-level soundness argument applied one level
    down. Columns without statistics get a NULL key (never pruned)."""
    import hashlib

    from columnar_aware_dedup_spark.functions.orcmeta import (
        column_spans,
        orc_column_stats_key,
        read_orc_structure,
        read_stripe_column_stats,
    )

    s = read_orc_structure(data)
    stats = read_stripe_column_stats(data)
    rows: list[dict] = []
    for i, st in enumerate(s.stripes):
        cst = stats[i] if i < len(stats) else []
        by_col: dict[int, list[tuple[int, int]]] = {}
        for cid, start, size in column_spans(data, st, s.compression):
            by_col.setdefault(cid, []).append((start, size))
        for cid, spans in sorted(by_col.items()):
            # the column id alone is a weak discriminator (ORC column ids
            # are positional, and our walker does not decode the schema's
            # names the way the parquet twin's path does) — the shared
            # key carries the stripe's column COUNT so same-position
            # columns of different-width tables can never stats-collide;
            # a residual same-width coincidence stays SOUND (a futile
            # hash candidate, never a wrong prune)
            key = orc_column_stats_key(cst, cid)
            h = hashlib.md5()
            total = 0
            for start, size in spans:
                h.update(data[start : start + size])
                total += size
            rows.append(
                {
                    "file_name": file_name,
                    "stripe_idx": i,
                    "stats_key": key,
                    "signature": h.hexdigest(),
                    "data_size": total,
                }
            )
    return rows


def stripe_column_stats_key_table(
    spark: SparkSession, path: str
) -> DataFrame:
    """binaryFile scan -> per-(stripe, column) stats-key rows, one parse
    task per file."""
    return map_files(
        binary_files(spark, path, "*.orc"),
        lambda p, data: stripe_column_stats_key_rows(base_name(p), data),
        _PRUNE_SCHEMA,
    )


def parquet_cc_stats_key_rows(file_name: str, data: bytes) -> list[dict]:
    """Parquet twin of :func:`stripe_column_stats_key_rows`: per
    (row group, COLUMN CHUNK), the stats key is the column path plus its
    raw statistics payloads, the signature the md5 over the chunk's
    physical span (first page offset + total compressed size, our
    walker). Same soundness direction, column-chunk granularity."""
    import hashlib

    from columnar_aware_dedup_spark.functions.parquetmeta import (
        read_footer_zone_maps,
    )

    rows: list[dict] = []
    for i, cols in enumerate(read_footer_zone_maps(data)):
        for c in cols:
            key = (
                f"{c['path']}:{c['num_values']}:{c['min_raw']}"
                f":{c['max_raw']}:{c['num_rows']}"
            )
            start, nbytes = c["start"], c["nbytes"] or 0
            rows.append(
                {
                    "file_name": file_name,
                    "stripe_idx": i,
                    "stats_key": key,
                    "signature": hashlib.md5(
                        data[start : start + nbytes]
                        if start is not None
                        else b""
                    ).hexdigest(),
                    "data_size": nbytes,
                }
            )
    return rows


#: column-level fixture truth: the region level already dedups snapshot
#: B's byte-identical prefix, so lineitem.orc's REGION-MISSED stripes
#: (boundary + appended rows) have stats-colliding columns (row counts and
#: low-cardinality bounds match) that hash and MISS — candidates, no hits;
#: the one-column-perturbed files are the fallback's win: every
#: UNPERTURBED column stats-matches and byte-HITS (same rows, same
#: boundaries), while the perturbed column (l_partkey ints / l_returnflag
#: strings) prunes unhashed; the different-table file prunes everything.
_COLPRUNE_ROWS = {
    "lineitem.orc": ("TRUE", "FALSE"),
    "lineitem_mod.orc": ("TRUE", "TRUE"),
    "lineitem_strmod.orc": ("TRUE", "TRUE"),
    "orders_new.orc": ("FALSE", "FALSE"),
}

ORC_COLPRUNE_ORACLE = (
    "SELECT file_name, TRUE AS stats_prune_sound_ok,"
    " TRUE AS dedup_bytes_match_full_ok, has_candidates, has_hits,"
    " TRUE AS has_pruned, TRUE AS hashed_lt_total_ok"
    " FROM (VALUES "
    + ", ".join(
        f"('{f}', {cand}, {hits})"
        for f, (cand, hits) in sorted(_COLPRUNE_ROWS.items())
    )
    + ") t(file_name, has_candidates, has_hits) ORDER BY file_name"
)

PARQUET_COLPRUNE_ORACLE = (
    "SELECT file_name, TRUE AS stats_prune_sound_ok,"
    " TRUE AS dedup_bytes_match_full_ok, has_candidates, has_hits,"
    " TRUE AS has_pruned, TRUE AS hashed_lt_total_ok"
    " FROM (VALUES "
    + ", ".join(
        f"('{f.replace('.orc', '.parquet')}', {cand}, {hits})"
        for f, (cand, hits) in sorted(_COLPRUNE_ROWS.items())
    )
    + ") t(file_name, has_candidates, has_hits) ORDER BY file_name"
)


@register("orc_stats_pruned_columns", oracle=ORC_COLPRUNE_ORACLE)
def orc_stats_pruned_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN stats pruning for the hierarchical fallback (VERDICT r09
    "Next round" #7): the r09 stripe-level front door decided whole-stripe
    misses from footer metadata alone, but a stats-missed stripe still
    hashed every one of its columns on the way into the s+p column probe
    (``orc/net/StripePlusColumnORCStreamer.java:130-209``). The per-column
    statistics are in the SAME Metadata walk the stripe keys come from,
    so the fallback now prunes column-by-column: a column of a
    stripe-missed stripe whose (column id, statistics vector) matches no
    store column cannot be byte-identical to any of them — a DEFINITE
    per-column transfer miss, unhashed; only stats-colliding columns get
    their data spans hashed and probed against the store's column
    signatures.

    The certificate verifies, per incoming file over the four-file
    workload (incl. the r10 string-perturbed file), that the shortcut
    changed nothing and saved work — same bits, same flip tests, same
    derivation (:func:`stats_pruned_certificate`) as the stripe level.
    The one-column-perturbed files are the payoff rows: stripe-level
    pruning transfers them whole, while the column fallback recovers
    ~95 % of their bytes as hits AND skips hashing the perturbed column
    (fixture truth in ``_COLPRUNE_ROWS``).

    Scale shape: the fallback set derives from the region probe's misses
    (an anti-join), BOTH granularities parse in one level-tagged
    binaryFile pass per directory (lazily checkpointed, so each file's
    bytes are read and footer-walked once), and the probes are the same
    two equi-joins — nothing here reads data bytes except candidate
    column spans, which is the point."""
    store_dir, _incoming_dir = orc_fixture_dirs(sf_dir)
    inc = orc_strmod_two_level_incoming(spark, sf_dir)
    store = orc_two_level_table(spark, store_dir).localCheckpoint(
        eager=False
    )
    return stats_pruned_certificate(
        _column_fallback_probe(
            inc.filter(F.col("level") == "region").drop("level"),
            store.filter(F.col("level") == "region").drop("level"),
            inc.filter(F.col("level") == "column").drop("level"),
            store.filter(F.col("level") == "column").drop("level"),
        )
    )


def orc_strmod_two_level_incoming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The four-file ORC incoming workload (snapshot dir + the
    string-perturbed extra file) as ONE lazily-checkpointed two-level
    frame — shared by ``orc_stats_pruned_columns`` and the maintained-
    index parity row (``streaming_statsprune_columns_parity``), so the
    two rows probe identical incoming rows."""
    _store_dir, incoming_dir = orc_fixture_dirs(sf_dir)
    return (
        orc_two_level_table(spark, incoming_dir)
        .unionByName(
            orc_two_level_table(spark, orc_strmod_incoming_dir(sf_dir))
        )
        .localCheckpoint(eager=False)
    )


@register("parquet_stats_pruned_columns", oracle=PARQUET_COLPRUNE_ORACLE)
def parquet_stats_pruned_columns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-COLUMN-CHUNK stats pruning for row-group-missed parquet row
    groups — the other-format twin of ``orc_stats_pruned_columns`` (house
    rule: every scan-side discipline ships in both formats; the
    reference's parquet mode is ``parquet/dedup/
    NaiveParquetChunkingAlgorithm.java``). Same fallback-set derivation,
    same probe, same certificate, same one-pass two-granularity scan; the
    column-chunk spans and raw-payload stats keys come from OUR
    Thrift-compact walker — pyarrow appears nowhere in the claim path."""
    store_dir, incoming_dir = parquet_fixture_dirs(sf_dir)
    strmod_dir = parquet_strmod_incoming_dir(sf_dir)
    inc = (
        parquet_two_level_table(spark, incoming_dir)
        .unionByName(parquet_two_level_table(spark, strmod_dir))
        .localCheckpoint(eager=False)
    )
    store = parquet_two_level_table(spark, store_dir).localCheckpoint(
        eager=False
    )
    return stats_pruned_certificate(
        _column_fallback_probe(
            inc.filter(F.col("level") == "region").drop("level"),
            store.filter(F.col("level") == "region").drop("level"),
            inc.filter(F.col("level") == "column").drop("level"),
            store.filter(F.col("level") == "column").drop("level"),
        )
    )


_TWO_LEVEL_SCHEMA = T.StructType(
    [*_PRUNE_SCHEMA.fields, T.StructField("level", T.StringType(), False)]
)


def _two_level_table(
    spark: SparkSession, path: str, glob: str, region_rows, column_rows
) -> DataFrame:
    """ONE binaryFile scan emitting BOTH granularities, level-tagged —
    the column-fallback certificates need region rows (for the fallback
    set) AND column rows for the same directories, and two separate
    scans read and footer-walk every file's bytes twice (r10 review).
    Callers checkpoint and filter on ``level``."""

    def _rows(p: str, data: bytes) -> list[dict]:
        name = base_name(p)
        return tag(region_rows(name, data), level="region") + tag(
            column_rows(name, data), level="column"
        )

    return map_files(binary_files(spark, path, glob), _rows, _TWO_LEVEL_SCHEMA)


def orc_two_level_table(spark: SparkSession, path: str) -> DataFrame:
    return _two_level_table(
        spark, path, "*.orc", stripe_stats_key_rows,
        stripe_column_stats_key_rows,
    )


def parquet_two_level_table(spark: SparkSession, path: str) -> DataFrame:
    return _two_level_table(
        spark, path, "*.parquet", parquet_rg_stats_key_rows,
        parquet_cc_stats_key_rows,
    )


def _column_fallback_probe(
    inc_regions: DataFrame,
    store_regions: DataFrame,
    inc_cols: DataFrame,
    store_cols: DataFrame,
) -> DataFrame:
    """The column-level probed frame: columns of REGION-MISSED regions
    (incoming stripes/row groups whose whole-region signature is absent
    from the store — the hierarchical fallback set,
    ``orc/net/StripePlusColumnORCStreamer.java:130-209``) probed against
    the store's per-column stats keys and signatures through the SAME
    format-agnostic middle as the region level (`_stats_pruned_probe`)."""
    store_sigs = store_regions.select("signature").distinct()
    missed = inc_regions.join(store_sigs, "signature", "left_anti").select(
        "file_name", "stripe_idx"
    )
    fallback = inc_cols.join(
        missed, ["file_name", "stripe_idx"], "left_semi"
    )
    return _stats_pruned_probe(fallback, store_cols)


def stats_pruned_census(probed: DataFrame) -> DataFrame:
    """The numeric per-file census behind the certificate booleans — the
    unregistered ``*_full`` twin (house pattern: the driver hashes the
    certificate, the raw numbers stay pytest-pinned): per incoming file,
    region and byte counts for total / pruned / candidate / hit, plus
    the two headline fractions a capacity planner reads —
    ``hash_savings_frac`` (bytes the stats pruner never hashed) and
    ``dedup_frac`` (bytes the signature probe then eliminated)."""
    zero = F.lit(0).cast("bigint")
    return (
        probed.groupBy("file_name")
        .agg(
            F.count("*").alias("n_regions"),
            F.sum((~F.col("cand")).cast("long")).alias("n_pruned"),
            F.sum(F.col("cand").cast("long")).alias("n_candidates"),
            F.sum(F.col("hit").cast("long")).alias("n_hits"),
            F.sum("data_size").alias("bytes_total"),
            F.coalesce(
                F.sum(F.when(F.col("cand"), F.col("data_size"))), zero
            ).alias("bytes_hashed"),
            F.coalesce(
                F.sum(F.when(F.col("hit"), F.col("data_size"))), zero
            ).alias("dedup_bytes"),
        )
        .withColumn(
            "hash_savings_frac",
            F.round(
                1 - F.col("bytes_hashed") / F.col("bytes_total"), 6
            ),
        )
        .withColumn(
            "dedup_frac",
            F.round(F.col("dedup_bytes") / F.col("bytes_total"), 6),
        )
        .orderBy("file_name")
    )


def orc_stats_pruned_dedup_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Numeric twin of ``orc_stats_pruned_dedup`` (see
    :func:`stats_pruned_census`)."""
    store_dir, incoming_dir = orc_fixture_dirs(sf_dir)
    return stats_pruned_census(
        _stats_pruned_probe(
            _orc_incoming_stats(spark, sf_dir, incoming_dir),
            stripe_stats_key_table(spark, store_dir),
        )
    )


def parquet_stats_pruned_dedup_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Numeric twin of ``parquet_stats_pruned_dedup`` (see
    :func:`stats_pruned_census`)."""
    store_dir, incoming_dir = parquet_fixture_dirs(sf_dir)
    return stats_pruned_census(
        _stats_pruned_probe(
            _parquet_incoming_stats(spark, sf_dir, incoming_dir),
            parquet_rg_stats_key_table(spark, store_dir),
        )
    )
