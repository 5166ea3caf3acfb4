"""TransferStats as DataFrames (SURVEY §2.4).

The reference accumulates per-file ``TransferStatValue`` lists and rolls them
up globally with min/p25/p50/p75/max summaries
(``common/TransferStats.java:38-72`` model+rollup, ``:86-108`` stat taxonomy,
``:129-155`` percentile printing — whose p50/p75 are a copy-paste of p25; we
compute them correctly, SURVEY §8.1).

Here the per-file stats come from the dedup classifier: each file (order)
yields TransferBytes / DedupBytes / ChunkHit / ChunkMiss values; the global
rollup is the exact partial->final aggregation shape the reference hand-rolls
(``globalStats`` re-aggregating per-file aggregates — Spark does the partial
aggregation automatically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.dedup import (
    _SNAPSHOT_A_SQL,
    _chunks_sql,
    _long_sql,
    classified_chunks,
)
from columnar_aware_dedup_spark.registry import register


def per_file_stats(classified: DataFrame) -> DataFrame:
    """Classified chunks -> long stats table ``(file_id, stat_type, value)``.

    Mirrors the reference's per-file ``TransferStats`` list
    (``common/TransferStats.java:16-36``): one row per (file, stat type).
    """
    agg = classified.groupBy("file_id").agg(
        F.sum(F.when(~F.col("hit"), F.col("size")).otherwise(0))
        .cast("double")
        .alias("TransferBytes"),
        F.sum(F.when(F.col("hit"), F.col("size")).otherwise(0))
        .cast("double")
        .alias("DedupBytes"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("double").alias("ChunkHit"),
        F.sum(F.when(~F.col("hit"), 1).otherwise(0)).cast("double").alias("ChunkMiss"),
    )
    stat_cols = ["TransferBytes", "DedupBytes", "ChunkHit", "ChunkMiss"]
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("stat_type"), F.col(c).alias("value"))
            for c in stat_cols
        ]
    )
    return agg.select("file_id", F.explode(pairs).alias("p")).select(
        "file_id", "p.stat_type", "p.value"
    )


def approx_rank_certificate(
    long_df: DataFrame,
    key: str,
    value_col: str,
    ps: tuple[float, ...] = (0.25, 0.50, 0.75),
    accuracy: int = 10000,
    slack_eps: float = 1e-3,
) -> DataFrame:
    """Tolerance-bit certificate for ``approx_percentile``: judge each
    sketch output in RANK space against the group's own values.

    The sketch VALUE is engine-specific (so no direct hash check), but its
    rank guarantee is testable in-plan: for target rank p·n, the group's
    value interval ``[count(v < a), count(v <= a)]`` must intersect
    ``p·n ± (slack_eps·n + 1)``. The two-sided count formulation is what
    makes the bit TIE-SAFE — with heavy ties (e.g. integer quantities)
    ``count(v <= a)`` jumps in tie-run-sized steps, so a naive single-count
    bound would false-fail on any tied dataset. ``slack_eps`` is 10x the
    sketch's configured rank error (1/accuracy): immune to boundary noise,
    still flipped by a real sketch regression.

    Returns one row per key: ``n_rows`` (an exact fact the oracle re-states)
    plus one ``p{{P}}_rank_ok`` boolean per requested percentile.
    """
    aggs = [
        F.approx_percentile(F.col(value_col), F.lit(p), F.lit(accuracy)).alias(
            f"_a{i}"
        )
        for i, p in enumerate(ps)
    ]
    ap = long_df.groupBy(key).agg(F.count("*").alias("n_rows"), *aggs)
    return rank_bits(long_df, ap, key, value_col, ps, slack_eps)


def rank_bits(
    long_df: DataFrame,
    ap: DataFrame,
    key: str,
    value_col: str,
    ps: tuple[float, ...],
    slack_eps: float,
) -> DataFrame:
    """The judging half of :func:`approx_rank_certificate`, split out so
    tests can feed DELIBERATELY WRONG candidate values (``_a{i}`` columns in
    ``ap``) and prove the bits flip — a certificate that cannot fail proves
    nothing."""
    j = long_df.join(F.broadcast(ap), key)
    cnt_aggs = []
    for i, _ in enumerate(ps):
        cnt_aggs.append(
            F.sum((F.col(value_col) < F.col(f"_a{i}")).cast("long")).alias(
                f"_lt{i}"
            )
        )
        cnt_aggs.append(
            F.sum((F.col(value_col) <= F.col(f"_a{i}")).cast("long")).alias(
                f"_le{i}"
            )
        )
    counts = j.groupBy(key).agg(F.first("n_rows").alias("n_rows"), *cnt_aggs)
    out = [F.col(key), F.col("n_rows")]
    for i, p in enumerate(ps):
        slack = F.col("n_rows") * F.lit(slack_eps) + F.lit(1.0)
        target = F.col("n_rows") * F.lit(p)
        ok = (F.col(f"_lt{i}") <= target + slack) & (
            F.col(f"_le{i}") >= target - slack
        )
        out.append(ok.alias(f"p{int(p * 100)}_rank_ok"))
    return counts.select(*out)


#: shared CTE prefix of the transfer-stats oracles — both the exact and the
#: approx-certificate oracle project from the same ``long_stats`` relation,
#: so the prefix is a named constant and each oracle appends only its own
#: final SELECT (ADVICE r06: the approx oracle was previously built by rsplit
#: string surgery on the exact oracle's tail, so any edit to the base
#: projection silently produced a malformed or stale approx oracle).
_TRANSFER_STATS_CTE = f"""
WITH li_a AS ({_SNAPSHOT_A_SQL}),
long_a AS ({_long_sql('li_a')}),
long_b AS ({_long_sql('lineitem')}),
store AS (SELECT DISTINCT signature FROM ({_chunks_sql('long_a')})),
incoming AS ({_chunks_sql('long_b')}),
classified AS (
  SELECT i.file_id, i.size, (s.signature IS NOT NULL) AS hit
  FROM incoming i LEFT JOIN store s ON i.signature = s.signature
),
per_file AS (
  SELECT file_id,
         CAST(SUM(CASE WHEN hit THEN 0 ELSE size END) AS DOUBLE) AS TransferBytes,
         CAST(SUM(CASE WHEN hit THEN size ELSE 0 END) AS DOUBLE) AS DedupBytes,
         CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) AS ChunkHit,
         CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS DOUBLE) AS ChunkMiss
  FROM classified GROUP BY file_id
),
long_stats AS (
  SELECT file_id, 'TransferBytes' AS stat_type, TransferBytes AS value FROM per_file
  UNION ALL SELECT file_id, 'DedupBytes', DedupBytes FROM per_file
  UNION ALL SELECT file_id, 'ChunkHit', ChunkHit FROM per_file
  UNION ALL SELECT file_id, 'ChunkMiss', ChunkMiss FROM per_file
)
"""

TRANSFER_STATS_ORACLE = (
    _TRANSFER_STATS_CTE
    + """SELECT stat_type,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS occurrences,
       MIN(value) AS min_value,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.50) AS p50,
       quantile_cont(value, 0.75) AS p75,
       MAX(value) AS max_value
FROM long_stats
GROUP BY stat_type
ORDER BY stat_type
"""
)


@register("transfer_stats_rollup", oracle=TRANSFER_STATS_ORACLE)
def transfer_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global stat rollup with correct percentile summary.

    ``TransferStats.globalStats`` + ``TransferStatValue.percentile``
    (``common/TransferStats.java:38-47,129-132``) — per-file stats re-aggregated
    across files, with min/p25/p50/p75/max over the per-file values.

    Scale contract: ``F.percentile`` is EXACT — it buffers every per-file
    value per group in one aggregation buffer, which is fine at fixture scale
    (values per group == file count) but an executor-memory risk at 100x file
    counts. ``transfer_stats_rollup_approx`` is the production path: a
    bounded-size mergeable Greenwald-Khanna sketch per group.
    """
    stats = per_file_stats(classified_chunks(spark, sf_dir))
    return (
        stats.groupBy("stat_type")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"),
            F.count("*").alias("occurrences"),
            F.min("value").alias("min_value"),
            F.percentile("value", F.lit(0.25)).alias("p25"),
            F.percentile("value", F.lit(0.50)).alias("p50"),
            F.percentile("value", F.lit(0.75)).alias("p75"),
            F.max("value").alias("max_value"),
        )
        .orderBy("stat_type")
    )


TRANSFER_STATS_APPROX_ORACLE = (
    _TRANSFER_STATS_CTE
    + """SELECT stat_type,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
       CAST(COUNT(*) AS BIGINT) AS occurrences,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       TRUE AS p25_rank_ok,
       TRUE AS p50_rank_ok,
       TRUE AS p75_rank_ok
FROM long_stats
GROUP BY stat_type
ORDER BY stat_type
"""
)


@register("transfer_stats_rollup_approx", oracle=TRANSFER_STATS_APPROX_ORACLE)
def transfer_stats_rollup_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``transfer_stats_rollup`` (``approx_percentile``:
    bounded mergeable sketch per group instead of value buffering),
    HASH-CHECKED since r06 via the rank-space tolerance-bit certificate
    (:func:`approx_rank_certificate` — the ``approx_distinct`` discipline
    generalized to percentiles): exact facts (decimal-exact total,
    occurrences, min, max) plus one tie-safe rank bit per sketch output.
    Flip test:
    ``tests/test_planted_round6.py::test_rank_certificate_bits_flip_on_wrong_values``."""
    stats = per_file_stats(classified_chunks(spark, sf_dir))
    facts = stats.groupBy("stat_type").agg(
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"),
        F.count("*").alias("occurrences"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    bits = approx_rank_certificate(stats, "stat_type", "value").drop("n_rows")
    return (
        facts.join(bits, "stat_type")
        .select(
            "stat_type",
            "total",
            "occurrences",
            "min_value",
            "max_value",
            "p25_rank_ok",
            "p50_rank_ok",
            "p75_rank_ok",
        )
        .orderBy("stat_type")
    )
