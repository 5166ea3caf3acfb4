"""Focused tests for the r11 rewrite of ``apply_in_pandas_group``
(grouped-map applyInPandas -> mapInPandas partials + builtin combine):
the per-order profile must be EXACT regardless of how Arrow batching
slices an order's rows across partial rows."""

from __future__ import annotations

import pytest

from columnar_aware_dedup_spark.operators.udf import apply_in_pandas_group
from tests.conftest import SF_DIR, rows_equal, spark_conf


def _direct_sql(spark, sf_dir: str):
    from columnar_aware_dedup_spark.io import table

    table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_udf_t")
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(COUNT(*) AS INT) AS n_lines,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS total_price_cents,
               MAX(l_linenumber) AS max_line
        FROM _li_udf_t GROUP BY l_orderkey
        """
    )


def test_profile_matches_direct_sql(spark):
    assert rows_equal(apply_in_pandas_group(spark, SF_DIR), _direct_sql(spark, SF_DIR))


@pytest.mark.parametrize("batch_rows", [7, 100])
def test_profile_exact_under_tiny_arrow_batches(spark, batch_rows):
    """Force Arrow batches far smaller than an order's line count so
    every order IS split across partial rows — the cross-batch combine
    (sum of counts / int64 cents / max) must still be exact."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    with spark_conf(spark, **{key: str(batch_rows)}):
        assert rows_equal(
            apply_in_pandas_group(spark, SF_DIR), _direct_sql(spark, SF_DIR)
        )


def test_grouped_map_apply_in_pandas_surface(spark):
    """Batch grouped-map ``applyInPandas`` capability coverage (ADVICE
    r11): the r11 optimization rewrote the REGISTERED profile query as
    mapInPandas partials, so this test keeps the grouped-map API itself
    genuinely exercised — a whole-group pandas kernel over
    ``groupBy(l_orderkey)`` must reproduce the registered query's rows
    exactly."""
    import pandas as pd

    from columnar_aware_dedup_spark.io import table

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["l_extendedprice"] * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "l_orderkey": [pdf["l_orderkey"].iloc[0]],
                "n_lines": [len(pdf)],
                "total_price_cents": [int(cents.sum())],
                "max_line": [int(pdf["l_linenumber"].max())],
            }
        )

    li = table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    grouped = li.groupBy("l_orderkey").applyInPandas(
        profile,
        "l_orderkey long, n_lines int, total_price_cents long, max_line int",
    )
    assert rows_equal(grouped, apply_in_pandas_group(spark, SF_DIR))
