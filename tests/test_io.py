"""Fixture-table loading: each file's schema is inferred once per version."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from columnar_aware_dedup_spark.io import table

from tests.conftest import jobs_in


def test_fixture_schema_is_inferred_once_per_file_version(spark, tmp_path):
    """Schema inference is a Spark job per ``spark.read.parquet`` call; a
    second ``table()`` of the same file must run none, and rewriting the
    file in place must re-infer its schema."""
    path = tmp_path / "region.parquet"
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path
    )
    first = table(spark, str(tmp_path), "region")
    assert first.columns == ["r_regionkey", "r_name"]

    again, jobs = jobs_in(
        spark, "io_schema_memo", lambda: table(spark, str(tmp_path), "region")
    )
    assert jobs == [], f"a memoized schema must run no job, ran {jobs}"
    assert again.schema == first.schema

    pq.write_table(
        pa.table({"r_regionkey": [7], "r_name": ["C"], "r_comment": ["x"]}),
        path,
    )
    rewritten = table(spark, str(tmp_path), "region")
    assert rewritten.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in rewritten.collect()] == [(7, "C", "x")]
