"""Continuous IVF index maintenance: new embeddings stream in, get assigned
to the FROZEN centroids with the zero-shuffle broadcast argmin, and land in
the cell-partitioned index — the vector twin of the LSH band indexer
(``streaming/lsh.py``).

Why it exists: ``similarity.write_ivf_index`` re-assigns and rewrites the
WHOLE collection. At 100 TB with a daily embedding delta that is the naive
plan; the maintained index pays only the delta — each micro-batch assigns
its own vectors (a narrow map against the broadcast centroid array; the
history never rescans) and appends them idempotently into the same
``partitionBy(cid)`` layout ``ann_ivf_topk_from_index`` serves from, so
queries keep reading nprobe/k of the data via partition pruning while the
index grows. Centroids are FROZEN at index creation (the FAISS/IVF
deployment contract): assignment is a pure function of (vector, centroids),
so a replayed file re-derives identical rows and the anti-join on vec_id
makes at-least-once delivery and checkpoint replays no-ops. Re-training
centroids (``kmeans.ivf_train_kmeans``) is a rebuild, not a merge — the
cell of every historical vector could change.

Serving equality is the test contract: after any sequence of merges and
replays, ``ann_ivf_topk_from_index`` over the maintained directory must
equal ``ann_ivf_topk`` over the union of the ingested batches, row for row
(``tests/test_streaming.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.operators.similarity import (
    _CENTROID_HI,
    _CENTROID_LO,
    ivf_assign,
)
from columnar_aware_dedup_spark.streaming import fold


def frozen_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, ce): the fixed centroid rows the whole index lifetime uses
    (the fixture's deterministic medoids — a production index would load
    the trained table written at build time)."""
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").between(_CENTROID_LO, _CENTROID_HI))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    )


def merge_vectors(
    spark: SparkSession, batch: DataFrame, cent: DataFrame, path: str
) -> int:
    """Idempotently merge one batch of (vec_id, embedding) rows into the
    cell-partitioned index directory; returns rows appended.

    Vectors already indexed are dropped whole (the indexer discipline): a
    replayed file re-derives the identical (vec_id, embedding, cid) row
    against the frozen centroids, so skipping indexed ids keeps every
    cell's membership exact. Only the batch assigns (broadcast argmin,
    zero shuffle); the history contributes one vec_id column scan for the
    anti-join, never a re-assignment."""
    from pyspark.errors import AnalysisException

    with fold.locked(spark, "ivf_index_" + path.replace("/", "_")):
        # dropDuplicates: intra-batch replay guard (the indexer/ingest
        # discipline) — a vector twice in one batch would land twice in
        # its cell partition.
        assigned = ivf_assign(batch.dropDuplicates(["vec_id"]), cent)
        try:
            # filesystem-agnostic existence probe (the lock serializes
            # writers, so a successful read is a consistent snapshot)
            seen = spark.read.parquet(path).select("vec_id").distinct()
        except AnalysisException:  # first merge: no index directory yet
            seen = None
        if seen is not None:
            assigned = assigned.join(seen, "vec_id", "left_anti")
        # repartition on the partition column before the write (r11 — the
        # write_passage_ivf_index discipline, guide §6 small-files): the
        # delta otherwise writes one file into every cell directory from
        # every task.
        fresh = assigned.repartition("cid").persist()
        try:
            n = fresh.count()
            if n:
                fresh.write.partitionBy("cid").mode("append").parquet(path)
        finally:
            fresh.unpersist()
        return n


def start_ivf_indexer(
    spark: SparkSession,
    vectors_dir: str,
    cent: DataFrame,
    path: str,
    checkpoint: str,
) -> "object":
    """File-source stream over embeddings-schema parquet -> cell merges
    (``fold.start``)."""
    vecs = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(vectors_dir)
    return fold.start(
        vecs, lambda batch: merge_vectors(spark, batch, cent, path),
        checkpoint,
    )


def probe_topk(
    spark: SparkSession,
    batch: DataFrame,
    cent: DataFrame,
    path: str,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """Score INCOMING vectors against the indexed history WITHOUT indexing
    them: (query_id, neighbor_id, cosine_sim) top-k per batch vector — the
    admission/search gate of the maintained index, the vector twin of
    ``lsh.probe_near_dups``.

    Scale shape: the batch assigns its own ``nprobe`` nearest cells
    against the broadcast centroid array (narrow map), then joins the
    index ON THE PARTITION COLUMN — dynamic partition pruning restricts
    the historical scan to the batch's probed cells (the
    ``ann_ivf_topk_from_index`` layout payoff); the history is never
    re-assigned, re-hashed, or scanned outside those cells."""
    from pyspark.sql import Window

    from columnar_aware_dedup_spark.operators.similarity import (
        _cells_by_distance_spark,
        _cosine_spark,
        centroid_array,
    )

    qcells = (
        batch.join(F.broadcast(centroid_array(cent)))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                F.expr(
                    f"transform(slice({_cells_by_distance_spark('embedding')},"
                    f" 1, {nprobe}), s -> s.cid)"
                )
            ).alias("qcid"),
        )
    )
    idx = spark.read.parquet(path)
    pairs = idx.join(
        F.broadcast(qcells),
        (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine_spark("qe", "embedding").alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), "neighbor_id"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
