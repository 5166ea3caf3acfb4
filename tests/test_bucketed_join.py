"""Co-located (bucketed) fact-fact join: the zero-shuffle plan property.

`sources/store.py` proves one-sided bucketing (store side never re-shuffles);
this proves the full technique: both join sides bucketed+sorted by the key →
the join plan has no shuffle Exchange and no Sort at all.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.operators.scale import write_bucketed
from columnar_aware_dedup_spark.plans import explain

from tests.conftest import spark_conf


@pytest.fixture()
def bucketed_pair(spark, sf_dir):
    write_bucketed(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "b_orders",
        "o_orderkey",
    )
    write_bucketed(
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
    )
    yield spark.table("b_orders"), spark.table("b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair):
    o, li = bucketed_pair
    with spark_conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = o.join(li, "o_orderkey").groupBy("o_orderkey").agg(
            F.sum("l_quantity").alias("qty"), F.max("o_totalprice").alias("price")
        )
        plan = explain.plan_string(joined, "formatted")
        assert "SortMergeJoin" in plan
        # the join itself is exchange-free; the only permissible exchange
        # would be for the groupBy — but it groups on the bucket key, so the
        # whole plan stays at zero shuffles.
        assert explain.n_exchanges(joined) == 0, plan


def test_bucketed_join_matches_unbucketed(spark, sf_dir, bucketed_pair):
    o, li = bucketed_pair
    got = o.join(li, "o_orderkey").count()
    want = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert got == want
