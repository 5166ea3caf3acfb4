"""Registry-visible certificates for the streaming index-maintenance story.

Each ``streaming_*_parity`` query folds the fixture corpus into one
maintained index family (``streaming/*.py`` and ``sources/store.py``),
then serves a batch query's result from the maintained tables alone. It is
hash-checked against the SAME DuckDB oracle as that batch query, so the
maintained index must be indistinguishable from a corpus recompute.

Every family folds through one replay-checked fold, :func:`_certify`: the
rows split into two deterministic deltas by key parity; wave 1 folds, wave
1 is REPLAYED and must append nothing, then wave 2 folds. At-least-once
delivery is therefore part of the certified surface. It is load-bearing,
not tidy: CMS cells and BM25 tf/N/avgdl are additive, so a double-counted
replay would silently shift every served value. One run covers the
delta-vs-history, delta-internal and replay paths.

Four certificates (the three stats-key legs and winnowing) serve results
whose oracle is input-identical between a maintained-table serve and an
in-plan recompute. Their rows carry a ``served_from_index`` bit
(:func:`_served`): TRUE only when every file the serve plan scanned lives
under the maintained warehouse tables. Their oracle restates it TRUE
(:func:`_served_oracle`), so an in-plan substitute fails the row (flip
tests in ``tests/test_streaming.py`` and ``tests/test_winnowing.py``).

Scale shape: this is the daily-crawl contract at 100 TB. History is never
re-hashed or re-clustered; each wave pays only its own derivation, its
bucket-keyed probe and, for clusters, a star contraction bounded by the
affected component set.

Each merge is looked up at call time inside its ``_certify`` lambda, never
bound at import, so wrappers installed on the maintainer modules (the
merge tracing in ``perfbench/``) see every call.

Reference parity: the reference maintains its chunk-signature stores
incrementally across transfers — the receiver's store fields live for the
whole socket session (``orc/net/StripePlusColumnORCReceiver.java:41-44``)
and the server's receive loop keeps serving files against them
(``net/SpeedupServer.java:66-81``); these certificates are the engine's
equivalent claim for its index families.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.operators.clustering import (
    NEAR_DUP_CLUSTERS_ORACLE,
)
from columnar_aware_dedup_spark.operators.dedup import (
    DEDUP_HIT_MISS_ORACLE,
    incoming_and_store_chunks,
    transfer_rollup,
)
from columnar_aware_dedup_spark.operators.pq import (
    ANN_PQ_ORACLE,
    ann_pq_topk_from_index,
    fixed_codebooks,
)
from columnar_aware_dedup_spark.operators.retrieval import (
    BM25_ORACLE,
    RRF_ORACLE,
    bm25_from_index,
    init_bm25_tables,
    init_doc_vector_table,
    rrf_from_index,
)
from columnar_aware_dedup_spark.operators.selection import (
    TOKEN_CMS_ORACLE,
    heavy_hitters_from_cells,
)
from columnar_aware_dedup_spark.operators.similarity import (
    ANN_IVF_ORACLE,
    ann_ivf_topk_from_index,
)
from columnar_aware_dedup_spark.operators.text import (
    DUP_SPAN_ORACLE,
    MINHASH_NEAR_DUP_ORACLE,
)
from columnar_aware_dedup_spark.operators.winnowing import (
    WINNOW_OVERLAP_ORACLE,
)
from columnar_aware_dedup_spark.operators.zonemap import (
    ORC_COLPRUNE_ORACLE,
    ORC_STATS_PRUNED_ORACLE,
    PARQUET_STATS_PRUNED_ORACLE,
    _column_fallback_probe,
    _orc_incoming_stats,
    _parquet_incoming_stats,
    _stats_pruned_probe,
    orc_strmod_two_level_incoming,
    orc_two_level_table,
    parquet_rg_stats_key_table,
    stats_pruned_certificate,
    stripe_stats_key_table,
)
from columnar_aware_dedup_spark.registry import register
from columnar_aware_dedup_spark.sources import store
from columnar_aware_dedup_spark.sources.orcfixtures import (
    orc_fixture_dirs,
    parquet_fixture_dirs,
)
from columnar_aware_dedup_spark.streaming import bm25 as sbm25
from columnar_aware_dedup_spark.streaming import (
    clusters,
    fold,
    ivf,
    lsh,
    pqcodes,
    sketches,
    spans,
    statskeys,
    winnow,
)


def _certify(
    merge: Callable[[DataFrame], int], rows: DataFrame, key: str
) -> None:
    """Fold ``rows`` through ``merge`` in two waves split on ``key``
    parity, with a wave-1 replay between them that must append nothing.

    Wave 2 is the complement (``!= 0``), not ``== 1``: Spark's ``%``
    returns -1 for negative odd keys, so an equality test would drop them
    from both waves (no key column promises non-negative ids)."""
    wave1 = rows.filter(F.col(key) % 2 == 0)
    wave2 = rows.filter(F.col(key) % 2 != 0)
    merge(wave1)
    replayed = merge(wave1)
    if replayed:
        raise AssertionError(
            f"wave-1 replay appended {replayed} rows; merge is not idempotent"
        )
    merge(wave2)


@register("streaming_lsh_parity", oracle=MINHASH_NEAR_DUP_ORACLE)
def streaming_lsh_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``minhash_near_dup``'s candidate pairs from the maintained
    LSH band index."""
    tbl = lsh.init_band_table(spark, "parity_lsh_bands")
    _certify(
        lambda d: lsh.merge_bands(spark, d, tbl),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return lsh.near_dup_pairs_from_index(spark, tbl)


@register("streaming_spans_parity", oracle=DUP_SPAN_ORACLE)
def streaming_spans_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``dup_span_fraction``'s per-doc verdicts from the maintained
    substring-span index; the replay certifies the indexer's doc-granular
    anti-join."""
    tbl = spans.init_span_table(spark, "parity_span_index")
    _certify(
        lambda d: spans.merge_spans(spark, d, tbl),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return spans.dup_fraction_from_index(spark, tbl)


@register("streaming_cluster_parity", oracle=NEAR_DUP_CLUSTERS_ORACLE)
def streaming_cluster_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``near_dup_clusters`` from the incrementally maintained label
    table: each wave's delta pairs probe the band index and star
    contraction runs on delta + affected clusters only. Folding deltas
    against label edges must reach the batch fixed point, because min-id
    labels are associative under edge union."""
    band_tbl = lsh.init_band_table(spark, "parity_cluster_bands")
    label_tbl, done_tbl = "parity_cluster_labels", "parity_cluster_done"
    clusters.init_cluster_tables(spark, label_tbl, done_tbl)
    _certify(
        lambda d: clusters.merge_clusters(
            spark, d, band_tbl, label_tbl, done_tbl
        ),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return clusters.clusters_from_index(spark, label_tbl)


@register("streaming_store_parity", oracle=DEDUP_HIT_MISS_ORACLE)
def streaming_store_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the FLAGSHIP byte accounting from the persisted bucketed
    signature store: snapshot A's chunks fold in by file-id parity
    (``merge_into_store``'s anti-join-under-lock discipline), then the full
    chunk table probes the served table via ``probe_store``, whose plan
    shuffles only the incoming side once the store outgrows the broadcast
    threshold. Lineitem is chunked once per run: both waves, the replay
    and the probe read the one chunk table. This is the store-maintenance
    story itself — the object every other index family imitates."""
    tbl = fold.init_tables(
        spark,
        "parity_sig_store",
        {"": (store.STORE_SCHEMA, True)},
        store.store_buckets(spark),
        "signature",
    )
    # the flagship's own chunk/snapshot derivation — reusing it keeps this
    # certificate pinned to whatever dedup_hit_miss actually probes
    chunks, snap_a = incoming_and_store_chunks(spark, sf_dir)
    _certify(
        lambda d: store.merge_into_store(spark, d, tbl), snap_a, "file_id"
    )
    return transfer_rollup(store.probe_store(spark, chunks, tbl))


@register("streaming_sketch_parity", oracle=TOKEN_CMS_ORACLE)
def streaming_sketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``token_heavy_hitters_cms`` with every estimate answered from
    the maintained CMS cells; hash equality proves the cells equal a
    corpus re-sketch cell for cell."""
    prefix = "parity_sketch"
    sketches.init_sketch_tables(spark, prefix)
    # sweep=False: init just zeroed every table, so there is no debris to
    # reclaim; the sweeping path stays crash-injection-tested in
    # tests/test_streaming.py
    _certify(
        lambda d: sketches.merge_sketches(spark, d, prefix, sweep=False),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return heavy_hitters_from_cells(
        spark, sf_dir, sketches.served_cms(spark, prefix)
    )


@register("streaming_ivf_parity", oracle=ANN_IVF_ORACLE)
def streaming_ivf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``ann_ivf_topk`` from the cell-partitioned IVF index: each
    delta assigns against the frozen broadcast centroids and appends into
    the ``partitionBy(cid)`` layout, and the ranking goes through the
    partition-pruned ``ann_ivf_topk_from_index`` scan."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = f"{warehouse}/parity_ivf_index"
    shutil.rmtree(path, ignore_errors=True)
    cent = ivf.frozen_centroids(spark, sf_dir)
    _certify(
        lambda d: ivf.merge_vectors(spark, d, cent, path),
        table(spark, sf_dir, "embeddings"),
        "vec_id",
    )
    return ann_ivf_topk_from_index(spark, sf_dir, path)


def _bm25_index(spark: SparkSession, sf_dir: str, tbl: str) -> str:
    """Init the five-table BM25 index ``tbl`` and fold the corpus into it
    through the commit-marker protocol. ``sweep=False`` as in the sketch
    certificate: the tables were just zeroed."""
    init_bm25_tables(spark, tbl)
    _certify(
        lambda d: sbm25.merge_bm25_delta(spark, d, tbl, sweep=False),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return tbl


@register("streaming_bm25_parity", oracle=BM25_ORACLE)
def streaming_bm25_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``bm25_doc_ranking``'s top-k from the maintained BM25 index:
    the term-bucket-pruned postings plus the committed stats partials."""
    return bm25_from_index(
        spark, _bm25_index(spark, sf_dir, "parity_bm25_index")
    )


@register("streaming_rrf_parity", oracle=RRF_ORACLE)
def streaming_rrf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``hybrid_rrf_fusion`` ENTIRELY from maintained state: the
    BM25 side through the commit-marker merge, the dense side through the
    doc-vector table's single-append merge, fused by the same
    ``fuse_rrf`` tail as the from-scratch query."""
    bm25_tbl = _bm25_index(spark, sf_dir, "parity_rrf_bm25")
    vec_tbl = "parity_rrf_vecs"
    init_doc_vector_table(spark, vec_tbl)
    _certify(
        lambda d: sbm25.merge_doc_vectors_delta(spark, d, vec_tbl),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    return rrf_from_index(spark, bm25_tbl, spark.table(vec_tbl))


def _index_served_bit(
    spark: SparkSession, df: DataFrame, table: str, *more_tables: str
) -> bool:
    """TRUE iff every physical input file of ``df``'s scan lives under the
    warehouse directory of ``table`` (or one of ``more_tables``) — the
    served-from-index guard bit. Computed driver-side from the plan's file
    listing: a fact about HOW the result was produced. An in-plan
    substitute scans fixture bytes outside the warehouse and flips it, and
    a file-less frame never passes."""
    def _path(uri: str) -> str:
        # "file:/x", "file:///x" and bare "/x" all normalize to "/x"
        p = uri.removeprefix("file:")
        while p.startswith("//"):
            p = p[1:]
        return p

    warehouse = _path(spark.conf.get("spark.sql.warehouse.dir"))
    prefixes = tuple(
        f"{warehouse.rstrip('/')}/{t.lower()}/" for t in (table, *more_tables)
    )
    files = [_path(f) for f in df.inputFiles()]
    return bool(files) and all(f.startswith(prefixes) for f in files)


def _served(
    spark: SparkSession, cert: DataFrame, scanned: DataFrame, *tables: str
) -> DataFrame:
    """``cert`` with the guard bit appended: TRUE iff ``scanned`` read only
    the maintained ``tables``."""
    return cert.withColumn(
        "served_from_index",
        F.lit(_index_served_bit(spark, scanned, *tables)),
    )


def _served_oracle(oracle: str) -> str:
    """The batch oracle with the guard bit restated TRUE. It wraps the
    oracle instead of editing it, so the two cannot drift on the other
    columns; oracle compare sorts columns by name, so the bit's position
    does not matter."""
    return f"SELECT *, TRUE AS served_from_index FROM ({oracle}) AS o"


def _statskey_index(
    spark: SparkSession, store_rows: DataFrame, tbl: str
) -> DataFrame:
    """Fold a store's stats-key rows into the maintained table ``tbl`` by
    region-index parity and return the served table. The lazy checkpoint
    lets one parse of the store bytes feed all three merges; each merge's
    eager checkpoint would otherwise re-run the binaryFile + footer walk."""
    rows = store_rows.localCheckpoint(eager=False)
    _certify(
        lambda d: statskeys.merge_statskey_delta(spark, d, tbl),
        rows,
        "stripe_idx",
    )
    return spark.table(tbl)


@register(
    "streaming_statsprune_parity",
    oracle=_served_oracle(ORC_STATS_PRUNED_ORACLE),
)
def streaming_statsprune_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serve ``orc_stats_pruned_dedup`` from the persisted per-stripe
    stats-key index: the incoming workload probes the SERVED table through
    the same format-agnostic probe + certificate as the in-plan query, so
    the maintained metadata index must equal a store re-parse."""
    store_dir, incoming_dir = orc_fixture_dirs(sf_dir)
    tbl = statskeys.init_statskey_table(spark, "parity_statskey_index")
    served = _statskey_index(
        spark, stripe_stats_key_table(spark, store_dir), tbl
    )
    probe = _stats_pruned_probe(
        _orc_incoming_stats(spark, sf_dir, incoming_dir), served
    )
    return _served(spark, stats_pruned_certificate(probe), served, tbl)


@register(
    "streaming_statsprune_parquet_parity",
    oracle=_served_oracle(PARQUET_STATS_PRUNED_ORACLE),
)
def streaming_statsprune_parquet_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PARQUET leg of the maintained stats-key index: per-row-group
    keys from the Thrift-compact footer walker fold into the same
    maintainer and serve ``parquet_stats_pruned_dedup``."""
    store_dir, incoming_dir = parquet_fixture_dirs(sf_dir)
    tbl = statskeys.init_statskey_table(spark, "parity_statskey_pq")
    served = _statskey_index(
        spark, parquet_rg_stats_key_table(spark, store_dir), tbl
    )
    probe = _stats_pruned_probe(
        _parquet_incoming_stats(spark, sf_dir, incoming_dir), served
    )
    return _served(spark, stats_pruned_certificate(probe), served, tbl)


@register(
    "streaming_statsprune_columns_parity",
    oracle=_served_oracle(ORC_COLPRUNE_ORACLE),
)
def streaming_statsprune_columns_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COLUMN-LEVEL leg: per-stripe region keys AND per-(stripe,
    column) keys from one level-tagged footer walk fold into the
    level-aware table (the idempotence key gains ``level``), and the
    ``orc_stats_pruned_columns`` certificate is served ENTIRELY from it —
    the fallback set from its region rows, the column probe from its
    column rows."""
    store_dir, _incoming_dir = orc_fixture_dirs(sf_dir)
    tbl = statskeys.init_statskey_table(
        spark, "parity_statskey_cols", two_level=True
    )
    # the SAME frame feeds the probe and the guard bit — a checkpointed
    # or recomputed substitute would decouple them and make the bit
    # tautological; the double table scan this costs is a plain catalog
    # parquet read, not a footer re-parse
    served = _statskey_index(spark, orc_two_level_table(spark, store_dir), tbl)
    inc = orc_strmod_two_level_incoming(spark, sf_dir)
    probe = _column_fallback_probe(
        inc.filter(F.col("level") == "region").drop("level"),
        served.filter(F.col("level") == "region").drop("level"),
        inc.filter(F.col("level") == "column").drop("level"),
        served.filter(F.col("level") == "column").drop("level"),
    )
    return _served(spark, stats_pruned_certificate(probe), served, tbl)


@register(
    "streaming_winnow_parity", oracle=_served_oracle(WINNOW_OVERLAP_ORACLE)
)
def streaming_winnow_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``winnowing_overlap_pairs`` from the maintained two-table
    winnowing index through the SAME ``overlap_report`` chain as the batch
    corpus scan. The replay certifies per-table anti-join idempotence
    (class fingerprints key on ``tsig``, membership on ``doc_id``), which
    makes the two-table append crash-safe without a manifest; the guard
    bit requires every scanned file to live under the two tables."""
    fp_tbl, mem_tbl = winnow.init_winnow_tables(
        spark, "parity_winnow_fp", "parity_winnow_members"
    )
    _certify(
        lambda d: winnow.merge_winnow_delta(spark, d, fp_tbl, mem_tbl),
        table(spark, sf_dir, "documents"),
        "doc_id",
    )
    report = winnow.overlap_pairs_from_index(spark, fp_tbl, mem_tbl)
    return _served(spark, report, report, fp_tbl, mem_tbl)


@register("streaming_pq_parity", oracle=ANN_PQ_ORACLE)
def streaming_pq_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve ``ann_pq_topk``'s ADC ranking from the maintained PQ codes
    alone; each delta encodes against the frozen broadcast codebooks."""
    tbl = pqcodes.init_code_table(spark, "parity_pq_codes")
    vecs = table(spark, sf_dir, "embeddings")
    cbs = fixed_codebooks(vecs)
    _certify(lambda d: pqcodes.merge_codes(spark, d, cbs, tbl), vecs, "vec_id")
    return ann_pq_topk_from_index(spark, sf_dir, tbl)
