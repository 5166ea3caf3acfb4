"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs a registered Spark query and its ANSI-SQL oracle on the same parquet
fixtures, then compares row count + column names + an order-insensitive
canonical value multiset. Float handling is stricter than the driver's
(exact match after canonicalization) so any nondeterminism surfaces first.

CAVEAT — this harness is NOT driver-faithful on output *representation*:
the driver canon is pandas-based and representation-sensitive, while
``_canon_cell`` below converts Decimal->float and joins lists to strings —
exactly the two dimensions that failed r03 (``cast_fns`` hash,
``doc_hash_embedding`` crash) while passing here. The schema check in
``test_registry_oracles.py::test_oracle_match`` bans Decimal/Array/Map
top-level output columns so the gap cannot matter.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import duckdb

from columnar_aware_dedup_spark.io import TABLES


def run_duckdb(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _canon_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, _dec.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "float:nan"
        return f"float:{v:.9g}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, _dt.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return "str:" + str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("||".join(_canon_cell(r[i]) for i in order) for r in rows)


def compare(spark_df, oracle: str, sf_dir: str) -> None:
    """Assert the Spark result and the DuckDB oracle agree (driver-style)."""
    s_cols = [c.lower() for c in spark_df.columns]
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols, d_rows = run_duckdb(oracle, sf_dir)

    assert sorted(s_cols) == sorted(
        c.lower() for c in d_cols
    ), f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    assert len(s_rows) == len(
        d_rows
    ), f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"

    s_canon = _canon_rows([c.lower() for c in s_cols], s_rows)
    d_canon = _canon_rows([c.lower() for c in d_cols], d_rows)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:5]
        raise AssertionError(
            f"value mismatch ({len([1 for a, b in zip(s_canon, d_canon) if a != b])}"
            f"/{len(s_canon)} rows differ); first diffs (spark vs duckdb):\n"
            + "\n".join(f"  S: {a}\n  D: {b}" for a, b in diffs)
        )
