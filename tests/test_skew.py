"""AQE runtime skew-join handling: the other half of the skew story.

`salted_groupby` is the *static* technique (works for aggregations and when
the join output must stay hash-partitioned). This proves the *runtime* one:
AQE detects an oversized shuffle partition at execution time and splits it
(`SortMergeJoin(skew=true)`) — no code change, no salt column.

Caveat worth pinning: the OptimizeSkewedJoin rule declines to fire when the
join output feeds an operator that requires hash partitioning on the join key
(e.g. a groupBy on it) — splitting would force an extra shuffle. In those
shapes, salting IS the answer; this test's shape (join → global agg) is the
one AQE owns.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import spark_conf


def test_aqe_splits_skewed_join_partition(spark):
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scaled-down thresholds so a local fixture exhibits "skew": the
        # defaults (256 MB / factor 5) are the 100 TB settings.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    with spark_conf(spark, **confs):
        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(10_000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
        )
        big = hot.union(cold)
        small = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(small, "k").select(F.sum(F.col("v") + F.col("w")).alias("s"))
        [row] = j.collect()

        # value check: sum(v)+sum(w-per-row) computed independently
        exp_hot = sum(range(300_000))  # k=0 joins w=0
        exp_cold = sum(range(10_000)) + sum(
            2 * ((i % 100) + 1) for i in range(10_000)
        )
        assert row["s"] == exp_hot + exp_cold

        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
