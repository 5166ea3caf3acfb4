"""Incremental near-duplicate CLUSTER maintenance: crawl deltas stream in,
and the min-id component labels that ``operators.clustering.
near_dup_clusters`` computes over the whole corpus are kept current without
ever re-clustering the corpus — the final missing delta path (postings,
spans, sketches, LSH bands, IVF cells, and PQ codes already have theirs).

Why it is sound: the maintained label table IS a compressed edge set. A
label row ``doc -> cluster_id`` is an edge to the component's minimum
member (the keeper), so re-running connected components over
``label-edges UNION new-pairs`` yields exactly the components of
``old-pairs UNION new-pairs`` — min-id labels are associative under union,
which is what makes incremental folding equal batch recomputation (proven
by the two-waves-plus-replay test in ``tests/test_streaming.py``).

Why it scales: each merge touches ONLY the delta and the components it
collides with. New pairs come from probing the delta's 4·|delta| bucket
keys against the maintained band index (zero exchanges on the index side —
the ``probe_near_dups`` discipline); the relabel input is those pairs plus
the label edges of AFFECTED clusters only (a semi-join on the pair
endpoints), and the log-round star contraction runs on that
delta-plus-affected subgraph, never the corpus. The label table rewrite is
the one whole-table cost; at 100 TB it becomes a dynamic-partition
overwrite keyed on ``cluster_id % nparts`` (same upgrade the chunk store's
compaction documents).

Crash discipline (the sketches/spans lesson): band rows append first
(idempotent per ``lsh.merge_bands``); the label fold derives its work list
from ``bands-docs MINUS done-docs``, so a crash between the band append
and the label write leaves debris that the NEXT merge folds — replays are
no-ops because a doc's band rows and pair contributions are pure functions
of its text. The one window the anti-join cannot heal is a crash BETWEEN
the label swap's two renames (canonical name briefly unbound, both
versions intact on disk) — :func:`recover_labels` is the executable
rebind for it, mirroring ``store.recover_compaction``, and binding the
OLD labels is always safe because the crashed merge's docs were never
marked done.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.clustering import (
    connected_components_star,
)
from columnar_aware_dedup_spark.sources.store import drop_table_and_dir
from columnar_aware_dedup_spark.streaming import fold, lsh


# catalog-resolving table+directory cleanup, shared with the LSH band-table
# init (the implementation and its ADVICE r06 rationale live in store.py)
_drop_table_and_dir = drop_table_and_dir


def init_cluster_tables(
    spark: SparkSession, label_table: str, done_table: str
) -> None:
    """Create the empty label table (doc_id, cluster_id) and the done-marker
    table (doc_id) — the marker records docs whose pair contribution has
    been FOLDED into labels, which is strictly later than being indexed.
    Re-init truncates layout-matching tables in place (r11 — the
    ``init_bm25_tables`` discipline)."""
    for tbl, schema in (
        (label_table, "doc_id long, cluster_id long"),
        (done_table, "doc_id long"),
    ):
        fold.init_tables(spark, tbl, {"": (schema, False)}, 0, "")


def delta_pairs(bands: DataFrame, todo_ids: DataFrame) -> DataFrame:
    """Pairs touching the work list: probe its band rows against the whole
    bucketed index — covers delta-vs-history AND delta-internal pairs in
    one join; least/greatest dedupes direction. The work-list filter is an
    id-keyed join the optimizer broadcasts (delta-sized build side), so the
    index is never shuffled to FIND the probe rows, and the bucket-keyed
    probe join then follows the ``probe_near_dups`` discipline
    (plan-pinned in ``tests/test_streaming.py``)."""
    probe = bands.join(F.broadcast(todo_ids), "doc_id").alias("p")
    hist = bands.alias("h")
    return (
        probe.join(
            hist,
            (F.col("p.bucket") == F.col("h.bucket"))
            & (F.col("p.doc_id") != F.col("h.doc_id")),
        )
        .select(
            F.least("p.doc_id", "h.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "h.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def merge_clusters(
    spark: SparkSession,
    docs: DataFrame,
    band_table: str,
    label_table: str,
    done_table: str,
) -> int:
    """Fold one batch of documents-schema rows into the maintained labels;
    returns the number of docs folded (0 on pure replays)."""
    lsh.merge_bands(spark, docs, band_table)
    with fold.locked(spark, label_table, band_table, label_table, done_table):
        bands = spark.table(band_table)
        done = spark.table(done_table)
        todo_ids = (
            bands.select("doc_id")
            .distinct()
            .join(done, "doc_id", "left_anti")
            .persist()
        )
        try:
            n_todo = todo_ids.count()
            if n_todo == 0:
                return 0

            new_pairs = delta_pairs(bands, todo_ids).localCheckpoint(
                eager=True
            )

            labels = spark.table(label_table)
            endpoints = new_pairs.select(
                F.col("doc_a").alias("doc_id")
            ).unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
            affected = (
                labels.join(endpoints.distinct(), "doc_id", "left_semi")
                .select("cluster_id")
                .distinct()
            )
            sub = labels.join(
                affected, "cluster_id", "left_semi"
            ).localCheckpoint(eager=True)
            edges = new_pairs.unionByName(
                sub.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("cluster_id").alias("doc_b"),
                )
            )
            if edges.isEmpty():
                relabeled = spark.createDataFrame(
                    [], "doc_id long, cluster_id long"
                )
            else:
                relabeled = connected_components_star(edges)
            keep = labels.join(affected, "cluster_id", "left_anti")
            new_labels = keep.unionByName(
                relabeled.select("doc_id", "cluster_id")
            ).localCheckpoint(eager=True)

            # swap labels with compact_store's rename-aside discipline (a
            # crash between the renames leaves both versions intact on disk;
            # :func:`recover_labels` rebinds — the executable recovery path,
            # like store.recover_compaction), THEN append markers: a crash
            # before the markers means the next merge re-folds the same docs
            # onto already-correct labels — idempotent, same pairs, same
            # components, same minima.
            for suffix in ("__next", "__prev"):
                _drop_table_and_dir(spark, f"{label_table}{suffix}")
            new_labels.write.format("parquet").mode("overwrite").saveAsTable(
                f"{label_table}__next"
            )
            spark.sql(
                f"ALTER TABLE {label_table} RENAME TO {label_table}__prev"
            )
            spark.sql(
                f"ALTER TABLE {label_table}__next RENAME TO {label_table}"
            )
            spark.sql(f"DROP TABLE {label_table}__prev")
            todo_ids.write.format("parquet").mode("append").insertInto(
                done_table
            )
            return n_todo
        finally:
            todo_ids.unpersist()


def recover_labels(
    spark: SparkSession, label_table: str, prefer: str = "new"
) -> str | None:
    """Recover from a label swap crashed between the two renames — the
    ``store.recover_compaction`` procedure for the cluster maintainer's
    ``__next`` / ``__prev`` suffixes. Under the same writer lock:

    - canonical table bound -> nothing to recover; drop stray swap debris
      and return None;
    - canonical unbound (the crash window): rebind ``prefer`` ("new" = the
      fully-written relabeled table, "old" = the pre-merge labels — both
      intact by construction, because rename-aside happens only after the
      relabeled table is completely materialized), drop the other, return
      which was bound. Binding "old" is always SAFE, not just available:
      the done markers append after the swap, so a crashed merge left its
      docs unmarked and the next merge re-folds them onto the old labels.
    """
    if prefer not in ("new", "old"):
        raise ValueError(f"prefer must be 'new' or 'old', got {prefer!r}")
    candidates = {"new": f"{label_table}__next", "old": f"{label_table}__prev"}
    with fold.locked(spark, label_table):
        if spark.catalog.tableExists(label_table):
            for tbl in candidates.values():
                _drop_table_and_dir(spark, tbl)
            return None
        pick = candidates[prefer]
        if not spark.catalog.tableExists(pick):
            pick = candidates["old" if prefer == "new" else "new"]
        if not spark.catalog.tableExists(pick):
            raise RuntimeError(
                f"neither swap candidate of {label_table} exists — nothing "
                "to rebind (was init_cluster_tables ever run?)"
            )
        spark.sql(f"ALTER TABLE {pick} RENAME TO {label_table}")
        other = [t for t in candidates.values() if t != pick][0]
        _drop_table_and_dir(spark, other)
        return pick


def clusters_from_index(spark: SparkSession, label_table: str) -> DataFrame:
    """The ``near_dup_clusters`` verdict table served from the maintained
    labels: (doc_id, cluster_id, is_keeper) — no pair recomputation, no CC
    rounds; result-identical to the batch query over the same corpus
    (asserted in tests)."""
    return spark.table(label_table).select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def start_cluster_indexer(
    spark: SparkSession,
    docs_dir: str,
    band_table: str,
    label_table: str,
    done_table: str,
    checkpoint: str,
) -> "object":
    """File-source stream over documents-schema parquet -> label merges
    (``fold.start``)."""
    return fold.start(
        fold.docs_stream(spark, docs_dir),
        lambda batch: merge_clusters(
            spark, batch, band_table, label_table, done_table
        ),
        checkpoint,
    )
