"""Chunk-store deduplication as Spark dataflow — the engine's core.

Reference semantics re-expressed (citations into ``/root/reference/``):

- *Chunk*: ``(type, start, size)`` + SHA-1 signature
  (``src/main/java/vmware/speedup/cawd/dedup/ChunkingAlgorithm.java:20-35``).
  Here a chunk is the multiset of one column's values within one "file"
  (an order's lineitems play the file/stripe role), signed with md5 over the
  canonical sorted rendering — same content-addressing idea, set-oriented.
- *Chunk store probe*: ``HashMap.get(signature)``
  (``src/main/java/vmware/speedup/cawd/dedup/ColumnarChunkStore.java:10``,
  ``orc/dedup/NaiveORCChunkStore.java:27-29``) becomes a distributed join on
  ``signature``: hit set = left-semi, miss set = left-anti. The per-chunk
  stop-and-wait round trip (``orc/net/NaiveORCStreamer.java:72-76``) is
  eliminated — one shuffle batches every probe.
- *Hierarchical stripe->column fallback*
  (``orc/net/StripePlusColumnORCStreamer.java:110-209``): coarse whole-file
  signature probed first; only misses explode into per-column probes — two
  chained joins with the short-circuit expressed as dataflow.
- *Byte accounting* (``common/TransferStats.java:86-108``): TransferBytes /
  DedupBytes / hits / misses via conditional aggregation.

Scale notes (100 TB): the unpivot is a narrow map (no shuffle); chunking is
one shuffle keyed by (file, column); the store probe is one shuffle keyed by
signature (store side should be bucketed by signature in a persisted layout —
see ``store_merge``); all aggregates are partial-final. Nothing collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.functions.hashing import (
    canon_col,
    canon_sql,
    multiset_signature,
    multiset_signature_sql,
)
from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.registry import register

#: lineitem value columns that become chunks (name, spark dtype).
LINEITEM_VALUE_COLS: list[tuple[str, str]] = [
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

#: snapshot-A cutoff for the two-snapshot workload (median-ish order date).
SNAPSHOT_CUTOFF = "1998-01-01"

#: reference small-chunk threshold: chunks <= 50 B are sent raw, not hashed
#: (``orc/net/ColumnBasedORCStreamer.java:109``).
SMALL_CHUNK_BYTES = 50

NULL_MARK = "\\N"


# ---------------------------------------------------------------------------
# building blocks (Spark side)
# ---------------------------------------------------------------------------

def unpivot_lineitem(df: DataFrame) -> DataFrame:
    """lineitem -> long form ``(file_id, col, val)``.

    ``file_id`` is the order key: one order's lineitems play the role of one
    columnar file, each column's values within it one chunk. Narrow transform
    (explode of a literal-built array) — no shuffle, codegen-friendly.
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(n).alias("col"),
                F.coalesce(canon_col(n, t), F.lit(NULL_MARK)).alias("val"),
            )
            for n, t in LINEITEM_VALUE_COLS
        ]
    )
    return (
        df.select(F.col("l_orderkey").alias("file_id"), F.explode(pairs).alias("p"))
        .select("file_id", F.col("p.col").alias("col"), F.col("p.val").alias("val"))
    )


def chunk_table(long_df: DataFrame) -> DataFrame:
    """Long form -> chunk table ``(file_id, col, signature, size)``.

    One shuffle keyed by (file_id, col). ``size`` is the canonical byte size
    of the chunk's values (mirrors the reference's chunk ``size`` field).

    This is the *specification* formulation (used by property tests on
    arbitrary long tables); the hot path is :func:`lineitem_chunks`, which
    computes identical rows 3-4x faster.
    """
    return long_df.groupBy("file_id", "col").agg(
        multiset_signature("val").alias("signature"),
        F.sum(F.length("val")).cast("bigint").alias("size"),
    )


def lineitem_chunks(df: DataFrame) -> DataFrame:
    """Chunk table computed narrow-first: one shuffle, no exploded aggregate.

    Two scale lessons baked in (measured at sf0.1, see PROGRESS notes):

    1. Aggregate the *narrow* table per file (10 ``collect_list``s in one
       pass over 600k rows), then explode per-column signatures — never run
       the object aggregate over the 10x exploded long table (1.5M tiny
       groups through ObjectHashAggregate was the whole bottleneck).
    2. ``repartition(file_id)`` first: the group key matches the exchange, so
       Catalyst plans a single-phase aggregate after the shuffle. The partial
       phase is pure overhead for ``collect_list`` (lists don't combine), and
       in a one-file scan stage it would also run single-threaded.
    """
    # explicit width: AQE would coalesce this small-bytes exchange to half
    # the cores, but the following aggregate is CPU-bound (canonical string
    # rendering + per-group sort + md5), so size the stage by CPU, not bytes.
    n = df.sparkSession.sparkContext.defaultParallelism
    reparted = df.repartition(n, F.col("l_orderkey"))
    aggs = [
        F.collect_list(F.coalesce(canon_col(n, t), F.lit(NULL_MARK))).alias(
            f"v_{n}"
        )
        for n, t in LINEITEM_VALUE_COLS
    ]
    per_file = reparted.groupBy(F.col("l_orderkey").alias("file_id")).agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(n).alias("col"),
                F.md5(F.array_join(F.array_sort(F.col(f"v_{n}")), ",")).alias(
                    "signature"
                ),
                F.expr(f"aggregate(v_{n}, 0L, (a, x) -> a + length(x))").alias(
                    "size"
                ),
            )
            for n, _ in LINEITEM_VALUE_COLS
        ]
    )
    return per_file.select("file_id", F.explode(structs).alias("c")).select(
        "file_id", "c.col", "c.signature", "c.size"
    )


def dedup_classify(incoming: DataFrame, store: DataFrame) -> DataFrame:
    """Probe incoming chunk signatures against the store -> ``hit`` flag.

    The store side is reduced to distinct signatures first (signature-only
    probe, like the reference's HashMap keyset); the join is a plain equi-join
    that AQE turns into a broadcast when the store is small.
    """
    store_sigs = store.select("signature").distinct().withColumn("_hit", F.lit(1))
    return incoming.join(store_sigs, "signature", "left").withColumn(
        "hit", F.col("_hit").isNotNull()
    ).drop("_hit")


def transfer_rollup(classified: DataFrame, key: str = "col") -> DataFrame:
    """Per-key byte accounting (TransferStats analogue)."""
    return (
        classified.groupBy(key)
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("hits"),
            F.sum(F.when(~F.col("hit"), 1).otherwise(0)).cast("bigint").alias("misses"),
            F.sum(F.when(F.col("hit"), F.col("size")).otherwise(0))
            .cast("bigint")
            .alias("dedup_bytes"),
            F.sum(F.when(~F.col("hit"), F.col("size")).otherwise(0))
            .cast("bigint")
            .alias("transfer_bytes"),
        )
        .orderBy(key)
    )


def snapshot_a_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order keys of snapshot A (orders placed before the cutoff)."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(SNAPSHOT_CUTOFF))
        .select("o_orderkey")
    )


def snapshot_a_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot A = lineitems of orders placed before the cutoff."""
    li = table(spark, sf_dir, "lineitem")
    keys_a = snapshot_a_keys(spark, sf_dir)
    return li.join(keys_a, li.l_orderkey == keys_a.o_orderkey, "left_semi")


def incoming_and_store_chunks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(incoming chunks of the full table, store chunks of snapshot A).

    Snapshot A consists of *whole orders*, so A's chunk for a given
    (order, column) is byte-identical to the full snapshot's chunk — the
    store is just the incoming chunk table semi-joined to A's order keys.

    Chunking runs once per call. Left to itself, Catalyst would push the
    semi-join (and any filter a caller adds, such as a parity certificate's
    wave split) below the ``collect_list``/md5 aggregation, so every use of
    either frame would chunk lineitem again. A lazy ``localCheckpoint``
    materializes the chunk table on the first action instead, and every
    later use of either frame reads it.
    """
    li = table(spark, sf_dir, "lineitem")
    incoming = lineitem_chunks(li).localCheckpoint(eager=False)
    keys_a = snapshot_a_keys(spark, sf_dir)
    store = incoming.join(
        keys_a, incoming.file_id == keys_a.o_orderkey, "left_semi"
    )
    return incoming, store


# ---------------------------------------------------------------------------
# oracle SQL generators (DuckDB side of the same dataflow)
# ---------------------------------------------------------------------------

def _long_sql(source: str) -> str:
    """UNION ALL unpivot of ``source`` matching :func:`unpivot_lineitem`."""
    selects = [
        f"SELECT l_orderkey AS file_id, '{n}' AS col, "
        f"COALESCE({canon_sql(n, t)}, '{NULL_MARK}') AS val FROM {source}"
        for n, t in LINEITEM_VALUE_COLS
    ]
    return " UNION ALL ".join(selects)


def _chunks_sql(long_cte: str) -> str:
    return (
        f"SELECT file_id, col, {multiset_signature_sql('val')} AS signature, "
        # BIGINT cast: DuckDB's SUM yields HUGEINT, which fetchdf() renders as
        # float64 ("170.0") and the driver's value-hash diverges from Spark's
        # bigint ("170").
        f"CAST(SUM(LENGTH(val)) AS BIGINT) AS size FROM {long_cte} GROUP BY file_id, col"
    )


_SNAPSHOT_A_SQL = (
    "SELECT l.* FROM lineitem l WHERE l.l_orderkey IN "
    f"(SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '{SNAPSHOT_CUTOFF}')"
)


def _rollup_sql(classified_cte: str, key: str = "col") -> str:
    return f"""
SELECT {key},
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS misses,
       CAST(SUM(CASE WHEN hit THEN size ELSE 0 END) AS BIGINT) AS dedup_bytes,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE size END) AS BIGINT) AS transfer_bytes
FROM {classified_cte}
GROUP BY {key}
ORDER BY {key}
"""


DEDUP_HIT_MISS_ORACLE = f"""
WITH li_a AS ({_SNAPSHOT_A_SQL}),
long_a AS ({_long_sql('li_a')}),
long_b AS ({_long_sql('lineitem')}),
store AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_a')})),
incoming AS ({_chunks_sql('long_b')}),
classified AS (
  SELECT i.col, i.size, (s.signature IS NOT NULL) AS hit
  FROM incoming i LEFT JOIN store s ON i.signature = s.signature
)
{_rollup_sql('classified')}
"""


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

def classified_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk table of the full snapshot with a ``hit`` flag vs. the snapshot-A
    store.

    Because the store is a subset of the incoming chunks (snapshot A is whole
    orders), chunking runs ONCE: the store is the distinct signatures of the
    chunk table semi-joined to A's order keys, and the probe is a hash
    equi-join against that store set.

    r02 plan note: r01 resolved hits with ``max(in_store) over (partition by
    signature)`` to save the store-side shuffle — but a window is
    shuffle + SORT of the full chunk table, and the sort dominates. Chunking
    the raw table untagged once, deriving the store by a semi-join on the A
    keys, and probing with a hash equi-join measured ~2.4x faster at sf0.1
    (2.7 s vs 6.6 s min-of-3; identical results, same DuckDB oracle) — the
    extra exchanges touch only the distinct signature set and the per-file
    key list.

    Catalyst does not reuse the chunk aggregation for the store side: it
    pushes the semi-join below that side's own ``collect_list``/md5
    aggregation and chunks lineitem twice (11 jobs per run at sf0.01).
    :func:`incoming_and_store_chunks` materializes the chunk table once for
    both sides (10 jobs, 7-15 % faster), the idiom and the trade of
    :func:`dedup_hierarchical`.
    """
    return dedup_classify(*incoming_and_store_chunks(spark, sf_dir))


@register("dedup_hit_miss", oracle=DEDUP_HIT_MISS_ORACLE)
def dedup_hit_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: two-snapshot transfer simulation.

    Store = chunks of snapshot A (orders before cutoff); incoming = chunks of
    the full table; output = per-column TransferBytes/DedupBytes/hit/miss —
    the Spark rendering of the reference's README scenario
    (``/root/reference/README.md:66-78``: re-transfer of overlapping data
    should dedup everything previously seen).
    """
    return transfer_rollup(classified_chunks(spark, sf_dir))


CHUNK_SIMULATE_ORACLE = f"""
WITH long_b AS ({_long_sql('lineitem')})
{_chunks_sql('long_b')}
"""


@register("chunk_simulate", oracle=CHUNK_SIMULATE_ORACLE)
def chunk_simulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk table itself: (file, column) -> signature + size.

    Spark rendering of ``eagerChunking``'s ``List<Chunk>`` IR
    (``dedup/ChunkingAlgorithm.java:11``; chunk fields
    ``orc/dedup/NaiveORCChunkingAlgorithm.java:79-149``) over row data instead
    of byte ranges.
    """
    return lineitem_chunks(table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Bloom pre-filter: the wire-protocol optimization the signature probe wants
# at 100 TB — answer "definitely new" without touching the store.
# ---------------------------------------------------------------------------

#: Bloom geometry: M=2^17 bits (2048 64-bit words), K=4 seeded-md5 hash
#: functions. Sized so the audit measures something real at every fixture
#: scale: ~0.03% fp at sf0.001, ~20% at sf0.01, saturated at sf0.1 — the
#: three regimes of an aging filter. A deployment sizes M at ~10 bits/key
#: (k=4 optimal near 0.1 bits⁻¹ load); the construction is M-independent.
_BLOOM_M = 131072
_BLOOM_W = _BLOOM_M // 64


def _bloom_bit_spark(k: int, sig: str = "signature") -> str:
    # 5 hex nibbles = 20 bits, folded onto the 2^17-bit domain; both
    # operands non-negative so % agrees across engines.
    return (
        f"cast(conv(substring(md5(concat('bf{k}:', {sig})), 1, 5), 16, 10)"
        f" as int) % {_BLOOM_M}"
    )


def _bloom_bit_sql(k: int, sig: str = "signature") -> str:
    return (
        f"CAST(('0x' || substr(md5('bf{k}:' || {sig}), 1, 5)) AS INTEGER)"
        f" % {_BLOOM_M}"
    )


_BLOOM_K = 4


DEDUP_BLOOM_ORACLE = f"""
WITH li_a AS ({_SNAPSHOT_A_SQL}),
long_a AS ({_long_sql('li_a')}),
long_b AS ({_long_sql('lineitem')}),
store AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_a')})),
probe AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_b')})),
occ AS (
  SELECT DISTINCT p FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_bit_sql(k)} AS p FROM store" for k in range(_BLOOM_K))}
  )
), pb AS (
  SELECT signature,
         unnest([{", ".join(_bloom_bit_sql(k) for k in range(_BLOOM_K))}]) AS p
  FROM probe
), flags AS (
  SELECT pb.signature, bool_and(o.p IS NOT NULL) AS bloom_maybe
  FROM pb LEFT JOIN occ o USING (p) GROUP BY pb.signature
), cls AS (
  SELECT (s.signature IS NOT NULL) AS exact_hit, f.bloom_maybe
  FROM probe p2
  JOIN flags f ON f.signature = p2.signature
  LEFT JOIN store s ON s.signature = p2.signature
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_sigs,
       CAST(COUNT(*) FILTER (WHERE exact_hit) AS BIGINT) AS n_exact_hits,
       CAST(COUNT(*) FILTER (WHERE bloom_maybe) AS BIGINT) AS n_bloom_maybe,
       CAST(COUNT(*) FILTER (WHERE bloom_maybe AND NOT exact_hit) AS BIGINT)
         AS n_false_positives,
       CAST(COUNT(*) FILTER (WHERE exact_hit AND NOT bloom_maybe) AS BIGINT)
         AS n_false_negatives,
       round(CAST(COUNT(*) FILTER (WHERE bloom_maybe AND NOT exact_hit) AS DOUBLE)
             / CAST(COUNT(*) FILTER (WHERE NOT exact_hit) AS DOUBLE), 6)
         AS fp_rate
FROM cls
"""


@register("dedup_bloom_prefilter", oracle=DEDUP_BLOOM_ORACLE)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter audit for the signature probe.

    At 100 TB the store probe is a shuffle of every incoming signature; a
    Bloom filter built from the store answers "definitely new" as a NARROW
    map — only the "maybe seen" residue needs the real store join (the
    classic dedup wire-protocol optimization; the reference's HashMap-keyset
    probe, ``dedup/ColumnarChunkStore.java``, compressed into M bits). This query
    builds the M=2^17/K=4 seeded-md5 filter from the snapshot-A store,
    probes every incoming signature, and reports the audit: exact hits vs
    Bloom "maybe", false positives (the re-probe overhead), the
    one-sided-error invariant ``n_false_negatives`` (MUST be 0 — a Bloom
    filter can never miss a real hit), and the realized fp_rate.

    Plan shape: the occupied-bit set folds into ONE broadcast row of M
    booleans (the DSIR/NB broadcast-model idiom), so the Bloom verdict for
    each signature is a per-row fold — zero store-side shuffle at probe
    time. Hash-checked: the oracle reproduces the filter bit-for-bit.
    """
    chunks = lineitem_chunks(table(spark, sf_dir, "lineitem"))
    keys_a = snapshot_a_keys(spark, sf_dir)
    store = (
        chunks.join(keys_a, chunks.file_id == keys_a.o_orderkey, "left_semi")
        .select("signature")
        .distinct()
    )
    bits_arr = (
        "array(" + ", ".join(_bloom_bit_spark(k) for k in range(_BLOOM_K)) + ")"
    )
    # word-packed bitset: OR each occupied bit into its 64-bit word, fill
    # the empty word slots by a left join against the full slot range, and
    # fold the 2048 words into ONE broadcast row — probe lookups are then
    # O(1) array indexing + a shift, never a scan of the occupied set.
    occ_words = (
        store.select(F.explode(F.expr(bits_arr)).alias("p"))
        .select(
            F.expr("shiftright(p, 6)").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), p & 63)").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("word"))
    )
    occ = (
        spark.range(_BLOOM_W)
        .select(F.col("id").cast("int").alias("w"))
        .join(occ_words, "w", "left")
        .select("w", F.coalesce("word", F.lit(0).cast("bigint")).alias("word"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))),"
                " t -> t.word)"
            ).alias("words")
        )
    )
    probe = (
        chunks.select("signature")
        .distinct()
        .join(store.withColumn("_h", F.lit(1)), "signature", "left")
        .withColumn("exact_hit", F.col("_h").isNotNull())
        .drop("_h")
    )
    maybe = F.expr(
        f"forall({bits_arr}, b ->"
        " (shiftright(element_at(words, shiftright(b, 6) + 1), b & 63) & 1)"
        " = 1)"
    )
    cls = probe.join(F.broadcast(occ)).select(
        "exact_hit", maybe.alias("bloom_maybe")
    )
    fp = F.count(F.when(F.col("bloom_maybe") & ~F.col("exact_hit"), 1))
    return cls.agg(
        F.count("*").alias("n_probe_sigs"),
        F.count(F.when(F.col("exact_hit"), 1)).alias("n_exact_hits"),
        F.count(F.when(F.col("bloom_maybe"), 1)).alias("n_bloom_maybe"),
        fp.alias("n_false_positives"),
        F.count(F.when(F.col("exact_hit") & ~F.col("bloom_maybe"), 1)).alias(
            "n_false_negatives"
        ),
        F.round(
            fp.cast("double")
            / F.count(F.when(~F.col("exact_hit"), 1)).cast("double"),
            6,
        ).alias("fp_rate"),
    )


SMALL_CHUNK_ORACLE = f"""
WITH long_b AS ({_long_sql('lineitem')}),
chunks AS ({_chunks_sql('long_b')})
SELECT col,
       CASE WHEN size <= {SMALL_CHUNK_BYTES} THEN 'raw' ELSE 'dedup' END AS route,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(size) AS BIGINT) AS bytes
FROM chunks
GROUP BY col, route
ORDER BY col, route
"""


@register("small_chunk_policy", oracle=SMALL_CHUNK_ORACLE)
def small_chunk_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold routing: chunks <= 50 B bypass hashing (sent raw).

    Mirrors ``orc/net/ColumnBasedORCStreamer.java:109,125-143`` (50 B floor)
    and the s+p 2xSHA1 rule (``StripePlusColumnORCStreamer.java:154``).
    """
    chunks = lineitem_chunks(table(spark, sf_dir, "lineitem"))
    return (
        chunks.withColumn(
            "route",
            F.when(F.col("size") <= SMALL_CHUNK_BYTES, "raw").otherwise("dedup"),
        )
        .groupBy("col", "route")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("size").cast("bigint").alias("bytes"),
        )
        .orderBy("col", "route")
    )


#: column-name -> coarse type class, mirroring ORCColumnType {Double, Float,
#: String, Other} (``common/ColumnTypes.java:5-19``) — derived from the typed
#: schema instead of the reference's schema-string munging
#: (``StripePlusColumnORCChunkingAlgorithm.java:133-149``).
_COL_TYPE_CLASS = {
    n: (
        "Double"
        if t == "double"
        else "String"
        if t == "string"
        else "Other"
    )
    for n, t in LINEITEM_VALUE_COLS
}

_COL_TYPE_CASE = (
    "CASE "
    + " ".join(
        f"WHEN col = '{n}' THEN '{c}'" for n, c in _COL_TYPE_CLASS.items()
    )
    + " ELSE 'Other' END"
)

COL_TYPE_STATS_ORACLE = f"""
WITH li_a AS ({_SNAPSHOT_A_SQL}),
long_a AS ({_long_sql('li_a')}),
long_b AS ({_long_sql('lineitem')}),
store AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_a')})),
incoming AS ({_chunks_sql('long_b')}),
classified AS (
  SELECT {_COL_TYPE_CASE} AS column_type, i.size,
         (s.signature IS NOT NULL) AS hit
  FROM incoming i LEFT JOIN store s ON i.signature = s.signature
)
{_rollup_sql('classified', key='column_type')}
"""


@register("col_type_stats", oracle=COL_TYPE_STATS_ORACLE)
def col_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit/miss attribution by column-type class.

    The reference tags columns {Double, Float, String, Other} purely to
    attribute misses by type (``DoubleColumnMiss``/``StringColumnMissBytes``,
    ``common/TransferStats.java:98-104``); our classification comes from the
    real schema, not string munging.
    """
    c = classified_chunks(spark, sf_dir).withColumn(
        "column_type", F.expr(_COL_TYPE_CASE)
    )
    return transfer_rollup(c, key="column_type")


DEDUP_RATIO_ORACLE = f"""
WITH li_a AS ({_SNAPSHOT_A_SQL}),
long_a AS ({_long_sql('li_a')}),
long_b AS ({_long_sql('lineitem')}),
store AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_a')})),
incoming AS ({_chunks_sql('long_b')}),
classified AS (
  SELECT i.size, (s.signature IS NOT NULL) AS hit
  FROM incoming i LEFT JOIN store s ON i.signature = s.signature
)
SELECT CAST(SUM(CASE WHEN hit THEN size ELSE 0 END) AS BIGINT) AS dedup_bytes,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE size END) AS BIGINT) AS transfer_bytes,
       round(CAST(SUM(CASE WHEN hit THEN size ELSE 0 END) AS DOUBLE)
             / CAST(SUM(size) AS DOUBLE), 6) AS dedup_ratio
FROM classified
"""


@register("dedup_ratio", oracle=DEDUP_RATIO_ORACLE)
def dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline metric: fraction of bytes eliminated on re-transfer.

    Comparable to the reference's published 30.74 % traffic elimination
    (``figures/tpcds-10g/dat/orc/s+p.dat:1`` -> BASELINE.md); one row.
    """
    c = classified_chunks(spark, sf_dir)
    return c.agg(
        F.sum(F.when(F.col("hit"), F.col("size")).otherwise(0))
        .cast("bigint")
        .alias("dedup_bytes"),
        F.sum(F.when(~F.col("hit"), F.col("size")).otherwise(0))
        .cast("bigint")
        .alias("transfer_bytes"),
        F.round(
            F.sum(F.when(F.col("hit"), F.col("size")).otherwise(0)).cast("double")
            / F.sum("size").cast("double"),
            6,
        ).alias("dedup_ratio"),
    )


_KEYS_A_SQL = (
    "SELECT o_orderkey FROM orders "
    f"WHERE o_orderdate < TIMESTAMP '{SNAPSHOT_CUTOFF}'"
)

#: stripe chunk = linked parent of its column chunks: signature over the
#: sorted column signatures (the s+p "chunk with subchunks" model,
#: ``orc/dedup/StripePlusColumnORCChunkingAlgorithm.java:199-200,261-267``).
_STRIPES_FROM_COLS_SQL = """
SELECT file_id,
       md5(string_agg(signature, ',' ORDER BY signature)) AS signature,
       SUM(size) AS size
FROM col_in GROUP BY file_id
"""

DEDUP_HIERARCHICAL_ORACLE = f"""
WITH long_b AS ({_long_sql('lineitem')}),
col_in AS ({_chunks_sql('long_b')}),
stripes_in AS ({_STRIPES_FROM_COLS_SQL}),
stripe_store AS (
  SELECT DISTINCT signature FROM stripes_in
  WHERE file_id IN ({_KEYS_A_SQL})
),
col_store AS (
  SELECT DISTINCT signature FROM col_in
  WHERE file_id IN ({_KEYS_A_SQL})
),
stripe_probe AS (
  SELECT i.file_id, i.size, (s.signature IS NOT NULL) AS hit
  FROM stripes_in i LEFT JOIN stripe_store s ON i.signature = s.signature
),
col_probe AS (
  SELECT c.size, (s.signature IS NOT NULL) AS hit
  FROM col_in c
  JOIN stripe_probe sp ON c.file_id = sp.file_id AND NOT sp.hit
  LEFT JOIN col_store s ON c.signature = s.signature
),
leveled AS (
  SELECT 'stripe' AS level, size, hit FROM stripe_probe
  UNION ALL
  SELECT 'column' AS level, size, hit FROM col_probe
)
{_rollup_sql('leveled', key='level')}
"""


@register("dedup_hierarchical", oracle=DEDUP_HIERARCHICAL_ORACLE)
def dedup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level stripe->column probe with short-circuit.

    Whole-file (stripe) signatures are probed first; only stripe *misses*
    fan out into per-column probes — the dataflow form of
    ``orc/net/StripePlusColumnORCStreamer.java:110-209`` (hit at :121-129
    skips all column work) with its three signature stores
    (``StripePlusColumnORCReceiver.java:42-44``).

    r02 plan note (second rewrite, measured 2.15x faster than the
    store-semi-join + probe-join form at sf0.1, identical results): each
    level is classified by ONE ``groupBy(signature)`` aggregation instead of
    a store derivation (semi-join + distinct = shuffle) plus a probe
    (equi-join = shuffle). Store membership is just ``max(A-marker)`` per
    signature group, and the rollup only needs per-signature totals — so the
    full chunk table crosses the wire exactly once. The A-marker and the
    stripe-miss file list attach as broadcasts (both are per-file, bounded
    by file count; at 100 TB the persisted signature-bucketed store —
    ``sources/store.py`` — replaces the in-plan A-marker entirely).

    The chunk table still feeds two consumers (stripe derivation, column
    classify); exchange reuse shares only the *shuffle*, so the CPU-heavy
    post-shuffle aggregation (per-file sort + md5) would re-run per
    consumer. A lazy ``localCheckpoint`` materializes it once. Lineage
    truncation trades executor-loss re-derivation for one materialization —
    the right trade for a batch query whose retry unit is the query.
    """
    chunks = lineitem_chunks(table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=False
    )
    marked = F.broadcast(
        snapshot_a_keys(spark, sf_dir).withColumn("_a", F.lit(1))
    )

    # parent stripes: groupBy(file_id) rides the chunking's partitioning — no
    # extra shuffle. The stripe table is 10x smaller than the chunk table,
    # so a signature window is cheap here (and yields the per-file hit flag
    # the column fan-out needs).
    stripes = chunks.groupBy("file_id").agg(
        F.md5(F.array_join(F.array_sort(F.collect_list("signature")), ",")).alias(
            "signature"
        ),
        F.sum("size").cast("bigint").alias("size"),
    )
    sm = stripes.join(marked, stripes.file_id == marked.o_orderkey, "left")
    s_cls = sm.withColumn(
        "hit", F.max("_a").over(Window.partitionBy("signature")).isNotNull()
    )
    missed = s_cls.filter(~F.col("hit")).select("file_id")

    # column level, one shuffle: mark each chunk row with (in A?, in a
    # stripe-missed file?) via broadcasts, then classify per signature —
    # store membership = any A occurrence; probed volume = missed-file rows.
    cm = chunks.join(marked, chunks.file_id == marked.o_orderkey, "left").join(
        F.broadcast(missed.withColumnRenamed("file_id", "_mf")),
        chunks.file_id == F.col("_mf"),
        "left",
    )
    sig_stats = cm.groupBy("signature").agg(
        F.max("_a").alias("_in_store"),
        F.sum(F.when(F.col("_mf").isNotNull(), F.col("size"))).alias("_psize"),
        F.count(F.when(F.col("_mf").isNotNull(), 1)).alias("_prows"),
    )

    def _level_stats(df, hit_col, size_col, rows_col, label: str) -> DataFrame:
        return df.agg(
            F.sum(F.when(hit_col, rows_col).otherwise(0)).cast("bigint").alias("hits"),
            F.sum(F.when(~hit_col, rows_col).otherwise(0))
            .cast("bigint")
            .alias("misses"),
            F.sum(F.when(hit_col, size_col).otherwise(0))
            .cast("bigint")
            .alias("dedup_bytes"),
            F.sum(F.when(~hit_col, size_col).otherwise(0))
            .cast("bigint")
            .alias("transfer_bytes"),
        ).select(
            F.lit(label).alias("level"),
            "hits",
            "misses",
            "dedup_bytes",
            "transfer_bytes",
        )

    stripe_lvl = _level_stats(s_cls, F.col("hit"), F.col("size"), F.lit(1), "stripe")
    col_lvl = _level_stats(
        sig_stats.filter(F.col("_prows") > 0),
        F.col("_in_store").isNotNull(),
        F.col("_psize"),
        F.col("_prows"),
        "column",
    )
    return col_lvl.unionByName(stripe_lvl).orderBy("level")
