"""Run every registered query against its DuckDB oracle (driver-gate mirror).

New operators get coverage automatically: register() with an oracle string and
this module picks the query up on the next run.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, DecimalType, MapType

import __spark_entry__ as entrymod
from tests.oracle import compare

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(name, spark, sf_dir):
    """The query hash-matches its oracle, and emits no top-level DECIMAL,
    ARRAY, or MAP column.

    The driver's canonicalizer is pandas-based and representation-sensitive:
    Decimal cells stringify with their scale ('123.40' vs DuckDB's float
    123.4 — cast_fns, FAIL r03) and list cells are unhashable under
    ``sort_values`` (doc_hash_embedding, crash r03). The local harness in
    ``tests/oracle.py`` canonicalizes both away, so only this schema check —
    not the oracle compare — catches the class. Ship arrays as
    ``array_join`` strings (via a DECIMAL hop for doubles) and decimals as
    DOUBLE."""
    df = _QUERIES[name](spark, sf_dir)
    unsafe = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, DecimalType, MapType))
    ]
    assert not unsafe, f"driver-canon-unsafe output columns: {unsafe}"
    compare(df, _ORACLES[name], sf_dir)


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0 and len(df.columns) > 0


def test_every_oracle_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


def test_driver_window_holds_rotation_queries():
    """The driver checks the first 50 registered queries in dict order;
    they must be the window computed from the committed archives, and it
    must seat every CHANGED query."""
    from pathlib import Path

    import columnar_aware_dedup_spark as pkg
    from columnar_aware_dedup_spark import registry

    root = Path(__file__).resolve().parent.parent
    latest, _newest = registry.archive_state(root)
    window = registry.driver_window(list(_QUERIES), latest, pkg.CHANGED)
    assert list(_QUERIES)[:50] == window
    assert set(pkg.CHANGED) <= set(window)


#: every rows-only (no-oracle) query must be on this list with its reason —
#: a new registration without an oracle is a test failure, not a silent skip.
R_ALLOWLIST = {
    # r08: file_inventory graduated to H via the per-file structural
    # certificate (constant fixture file list × real scan invariants:
    # catalog-length-vs-bytes-read, PAR1 magic, glob filter); the numeric
    # table stays as the unregistered file_inventory_full twin.
    "file_parse_overhead": "wall-clock measurement",
    # r05: pq_train_codebooks, bpe_train_merges, bpe_segment_corpus,
    # embedding_pca_project, and near_dup_pagerank graduated to H via the
    # tolerance-bit certificate pattern (pq_train and pagerank stay
    # pytest-pinned in test_pq.py / test_clustering.py).
    # r06: the six binary-file queries (orc_file_chunks / orc_reconstruction
    # / orc_hierarchical_dedup / orc_linked_reconstruction /
    # parquet_file_chunks / parquet_reconstruction) graduated to H via
    # per-file/per-level structural certificates — DuckDB cannot chunk
    # binary files, but it CAN re-state the constant fixture layout with
    # the in-plan cover/reconstruction/hierarchy booleans all TRUE; the
    # raw tables stay as chunk_files and the unregistered *_full twins.
    # r06 (late): ivf_train_kmeans graduated to H via the same
    # tolerance-bit certificate as pq_train_codebooks (k-cell row keys +
    # inertia non-increase / dimensionality / finiteness bits); the float
    # structure table stays as the unregistered ivf_train_kmeans_full.
    # r06 (late): grouped_percentile_approx and transfer_stats_rollup_approx
    # graduated to H via the rank-space certificate
    # (stats.approx_rank_certificate — the approx_distinct tolerance-bit
    # generalized to percentiles, tie-safe two-sided rank counts). The one
    # query left here is the genuinely non-oracle-able residue: DuckDB has
    # no wall clock.
}


def test_rows_only_queries_are_allowlisted():
    rows_only = set(_QUERIES) - set(_ORACLES)
    assert rows_only == set(R_ALLOWLIST), (
        "every no-oracle query needs an R_ALLOWLIST reason; "
        f"unexpected: {sorted(rows_only - set(R_ALLOWLIST))}, "
        f"stale: {sorted(set(R_ALLOWLIST) - rows_only)}"
    )


def test_coverage_doc_counts_match_registry():
    """VERDICT r05 "What's wrong" #3: COVERAGE.md's header counts drifted
    from the registry twice (said 164/153H/11R while the registry held
    167/156/11). Pin the doc to the code: the header's first sentence must
    state the exact registered / H / R counts."""
    import re
    from pathlib import Path

    text = Path(__file__).resolve().parent.parent.joinpath(
        "COVERAGE.md"
    ).read_text()
    m = re.search(
        r"(\d+) registered queries in `__spark_entry__\.py::queries\(\)`; "
        r"(\d+) hash-checked\s*\nagainst a DuckDB oracle \(\*\*H\*\*\), "
        r"(\d+) rows-only",
        text,
    )
    assert m, "COVERAGE.md header count sentence not found / reformatted"
    total, h, r = map(int, m.groups())
    assert total == len(_QUERIES), (total, len(_QUERIES))
    assert h == len(_ORACLES), (h, len(_ORACLES))
    assert r == len(_QUERIES) - len(_ORACLES), (r, len(_QUERIES) - len(_ORACLES))
