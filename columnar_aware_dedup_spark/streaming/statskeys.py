"""Continuous maintenance of the per-stripe STATS-KEY index — the store
side of the stats-pruned dedup (``operators/zonemap.py``): new store
regions stream in and their (stats_key, signature, data_size) rows append
to the persisted index, so the metadata-only miss decision keeps working
as the store grows without ever re-parsing history. This is the ninth
index family under the house rule that every persisted index has an
idempotent delta path (the rule generalizes the reference's receiver
store fields, ``orc/net/StripePlusColumnORCReceiver.java:41-44``, and its
long-lived server loop, ``net/SpeedupServer.java:66-81``).

Shape: the pqcodes/doc-vector pattern — ONE plain table whose rows are
per-(file, region) independent, so a single consuming append is the whole
transaction and no cross-table commit protocol is needed: a crash loses
only the un-appended batch, and the replay's anti-join sees exactly the
pre-crash state. Idempotence keys on the FULL row (file_name, stripe_idx,
stats_key, signature): at-least-once delivery of a file's regions can
never double-insert them (the zero-rows replay is what the parity
certificate asserts), while two DISTINCT store files that happen to share
a basename still index — their signatures differ, so their rows do. The
degenerate remainder (same name, same region index, same bytes) is a
true duplicate whose drop is invisible to the probe: serving reads only
the stats-key and signature SETS.

At 100 TB the table is tiny relative to the data it indexes (one short
row per stripe/row group — footer metadata only) and can be bucketed by
stats_key if the probe's build side ever warrants it; here it stays a
plain append-only table read by the same format-agnostic probe the
in-plan query uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from columnar_aware_dedup_spark.streaming import fold

#: the index schema — exactly the chunker output (_PRUNE_SCHEMA's shape).
_SCHEMA = (
    "file_name string, stripe_idx int, stats_key string,"
    " signature string, data_size long"
)

#: the TWO-LEVEL index schema (r11): region AND column rows in one
#: level-tagged table — exactly ``zonemap._TWO_LEVEL_SCHEMA``'s shape, so
#: the maintained index can serve the column-fallback certificates (the
#: fallback set derives from the region rows, the probe from the column
#: rows, both read from the SAME maintained table).
_SCHEMA2 = _SCHEMA + ", level string"


def init_statskey_table(
    spark: SparkSession, table_name: str, two_level: bool = False
) -> str:
    """(Re-)create the EMPTY stats-key index table (truncate-in-place
    when the layout already matches, the ``init_bm25_tables`` re-init
    discipline). ``two_level=True`` creates the level-tagged layout."""
    return fold.init_tables(
        spark, table_name,
        {"": (_SCHEMA2 if two_level else _SCHEMA, False)}, 0, "",
    )


def merge_statskey_delta(
    spark: SparkSession, rows: DataFrame, table_name: str
) -> int:
    """Idempotently fold one batch of per-region stats-key rows into the
    persisted index; returns the number of NEW regions appended (module
    doc has the single-append crash-safety argument). Format- AND
    granularity-agnostic (r11): the idempotence key is every column but
    ``data_size`` — so the plain region layout keys on
    (file, region, stats_key, signature) exactly as before, and the
    two-level layout additionally keys on ``level`` (a stripe row and a
    column row of the same stripe never collide)."""
    from pyspark.sql import functions as F

    key = [c for c in rows.columns if c != "data_size"]
    with fold.locked(spark, table_name, table_name):
        # dropDuplicates: intra-batch replay guard — a region twice in one
        # batch would double-insert before the anti-join could see it.
        return fold.append_new(
            spark,
            rows.dropDuplicates(key).withColumn(
                "data_size", F.col("data_size").cast("long")
            ),
            table_name,
            key,
        )
