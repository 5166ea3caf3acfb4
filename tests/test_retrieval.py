"""BM25 + RRF retrieval: formula wiring, driver-side literal parity, and
independent hand recomputation (the oracle parity itself runs in
``test_registry_oracles``)."""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.retrieval import (
    _CONTRIB,
    _FUSE_N,
    _QVEC,
    _RRF_K,
    bm25_doc_ranking,
    hybrid_rrf_fusion,
)
from columnar_aware_dedup_spark.operators.search import (
    _BUCKET_SPARK,
    _HASH_DIM,
    _SEARCH_TERMS,
    _SIGN_SPARK,
)


def _norm_tokens(text: str) -> list[str]:
    """The house normalization (text._NORM_SPARK) re-stated in Python —
    a third, independent implementation for the hand oracle below."""
    t = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    return [tok for tok in t.split(" ") if tok]


def test_query_vector_matches_engine(spark):
    """The driver-side hashlib query vector must equal the engine's
    bucket/sign hashing of the same terms — the literal is load-bearing
    for every dense cosine downstream."""
    terms = spark.createDataFrame(
        [(t,) for t in _SEARCH_TERMS], "term string"
    )
    got = (
        terms.groupBy(F.expr(_BUCKET_SPARK).cast("int").alias("bucket"))
        .agg(F.expr(f"sum({_SIGN_SPARK})").alias("v"))
        .collect()
    )
    engine = [0] * _HASH_DIM
    for r in got:
        engine[r["bucket"]] = r["v"]
    assert engine == _QVEC


def test_bm25_contribution_monotonicity(spark):
    """Formula wiring is falsifiable: a rarer term (lower df) must
    contribute MORE than a common one at equal tf/dl, and higher tf more
    than lower tf — flip either input and the certificate-grade ordering
    breaks."""
    rows = [
        # (tf, df, dl, avgdl, n_docs)
        (2, 5, 100, 100.0, 1000),   # base
        (2, 500, 100, 100.0, 1000), # common term -> smaller
        (6, 5, 100, 100.0, 1000),   # higher tf -> larger
    ]
    df = spark.createDataFrame(
        rows, "tf long, df long, dl long, avgdl double, n_docs long"
    ).select(F.expr(_CONTRIB).cast("double").alias("c"))
    base, common, hot = [r["c"] for r in df.collect()]
    assert common < base < hot


def test_bm25_matches_hand_computation(spark, sf_dir):
    """Full independent recomputation in plain Python (third engine):
    tokenize with the regex restatement, score with the textbook formula,
    compare the top-20 (doc ids AND 6-dp scores)."""
    docs = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    toks = {d: _norm_tokens(t or "") for d, t in docs}
    n_docs = len(docs)
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    avgdl = sum(dl.values()) / len(dl)
    tf: dict[tuple[int, str], int] = {}
    for d, ts in toks.items():
        for tok in ts:
            if tok in _SEARCH_TERMS:
                tf[(d, tok)] = tf.get((d, tok), 0) + 1
    df_ = {
        t: len({d for (d, tt) in tf if tt == t}) for t in _SEARCH_TERMS
    }
    scores: dict[int, float] = {}
    for (d, t), f_ in tf.items():
        idf = math.log(1 + (n_docs - df_[t] + 0.5) / (df_[t] + 0.5))
        norm = (f_ * 2.2) / (f_ + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl))
        scores[d] = scores.get(d, 0.0) + round(idf * norm, 9)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["doc_id"], r["bm25"]) for r in bm25_doc_ranking(spark, sf_dir).collect()
    ]
    assert [d for d, _s in got] == [d for d, _s in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - round(es, 6)) < 1e-9, (gd, gs, es)


def test_rrf_scores_self_consistent(spark, sf_dir):
    """Every fused score equals 1/(k+lex) + 1/(k+dense) recomputed from
    the emitted ranks; ranks stay within the per-list depth; and at least
    one side is present on every row."""
    rows = hybrid_rrf_fusion(spark, sf_dir).collect()
    assert rows, "fusion returned nothing"
    for r in rows:
        lex, dense = r["lex_rank"], r["dense_rank"]
        assert lex is not None or dense is not None
        expect = (1.0 / (_RRF_K + lex) if lex else 0.0) + (
            1.0 / (_RRF_K + dense) if dense else 0.0
        )
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9
        for rank in (lex, dense):
            assert rank is None or 1 <= rank <= _FUSE_N
    # both lists contribute somewhere in the fused top-20 (the hybrid is
    # not degenerate on the fixtures): some row carries a lex rank and
    # some row carries a dense rank.
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["dense_rank"] is not None for r in rows)


def test_rrf_both_lists_winner_beats_single_list(spark, sf_dir):
    """A document present in BOTH lists at ranks (a, b) must outscore any
    document whose single rank is worse than both — the fusion property
    RRF exists for. Verified on the real fixture output wherever such a
    pair exists (and the fixtures do produce dual-list docs)."""
    rows = hybrid_rrf_fusion(spark, sf_dir).collect()
    dual = [r for r in rows if r["lex_rank"] and r["dense_rank"]]
    single = [
        r for r in rows if (r["lex_rank"] is None) != (r["dense_rank"] is None)
    ]
    assert dual, "fixtures produce no dual-list doc; planted premise broken"
    for d in dual:
        worst = max(d["lex_rank"], d["dense_rank"])
        for s in single:
            srank = s["lex_rank"] or s["dense_rank"]
            if srank > worst:
                assert d["rrf_score"] > s["rrf_score"]


def test_bm25_index_serving_is_result_identical(spark, sf_dir):
    """The materialized BM25 index (postings+dl / df / stats tables) must
    serve the exact same top-20 as the from-scratch ranking, and the
    serving plan must keep the index side exchange-free: the only data
    exchange is the per-doc fold of the term-filtered postings."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.plans import explain
    from tests.conftest import rows_equal

    write_bm25_index(spark, sf_dir, "bm25_idx_test")
    served = bm25_from_index(spark, "bm25_idx_test")
    # plan asserts run BEFORE collect: once AQE finalizes an executed plan
    # the formatted output counts its re-planned shuffle nodes differently.
    # Budget is 2: the per-doc fold of matched postings (the only DATA
    # exchange) plus the single-partition sum of the O(attempts)-row
    # committed stats partials.
    plan = explain.plan_string(served, "formatted")
    n = explain.n_exchanges(served)
    assert n <= 2, plan
    assert explain.has_take_ordered(served), plan
    # the searched terms' buckets are the ONLY postings read (3 terms ->
    # 3 of 8 buckets), and the term filter reaches the scan.
    assert "SelectedBucketsCount: 3 out of 8" in plan, plan
    assert rows_equal(served, bm25_doc_ranking(spark, sf_dir))


def test_rrf_index_serving_is_result_identical(spark, sf_dir):
    """The fully index-served hybrid (bucket-pruned BM25 postings + the
    persisted doc-vector table, fused through the SHARED fuse_rrf tail)
    must emit the exact same top-20 as the from-scratch fusion — and the
    dense vector table must stay maintainable: a delta merge plus replay
    converges to the batch-written table."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        rrf_from_index,
        write_bm25_index,
        write_doc_vector_index,
    )
    from columnar_aware_dedup_spark.streaming.bm25 import (
        merge_doc_vectors_delta,
    )
    from tests.conftest import rows_equal

    write_bm25_index(spark, sf_dir, "rrf_idx_bm25")
    write_doc_vector_index(spark, sf_dir, "rrf_idx_vecs")
    served = rrf_from_index(spark, "rrf_idx_bm25", spark.table("rrf_idx_vecs"))
    assert rows_equal(served, hybrid_rrf_fusion(spark, sf_dir))

    # dense delta path: replaying the full corpus absorbs to zero; a
    # genuinely new doc lands exactly once.
    from columnar_aware_dedup_spark.io import table as _table

    docs = _table(spark, sf_dir, "documents")
    assert merge_doc_vectors_delta(spark, docs, "rrf_idx_vecs") == 0
    new_doc = spark.createDataFrame(
        [(888_888, "vector stream merge vector", "en", "planted", 26)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert merge_doc_vectors_delta(spark, new_doc, "rrf_idx_vecs") == 1
    assert merge_doc_vectors_delta(spark, new_doc, "rrf_idx_vecs") == 0
    got = spark.table("rrf_idx_vecs").filter("doc_id = 888888").count()
    assert got == 1
    # zero-norm convergence (review finding): a token-less doc must land
    # in the table (as a zero vector) so replays absorb to zero instead
    # of re-processing it forever; serving filters it out by nrm > 0.
    empty_doc = spark.createDataFrame(
        [(777_777, "", "en", "planted", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert merge_doc_vectors_delta(spark, empty_doc, "rrf_idx_vecs") == 1
    assert merge_doc_vectors_delta(spark, empty_doc, "rrf_idx_vecs") == 0
    row = spark.table("rrf_idx_vecs").filter("doc_id = 777777").collect()[0]
    assert row["nrm"] == 0.0 and all(x == 0.0 for x in row["vec"])


def test_bm25_index_compaction_preserves_serving(spark, sf_dir, tmp_path):
    """The generic store compaction applies to the BM25 postings table
    unchanged (key='term', dedupe=False — posting rows are unique and
    must all survive): after several small delta merges accrete files,
    compaction collapses them to one sorted file per bucket, the
    term-bucketed layout survives (bucket pruning still fires), and the
    served top-20 is byte-identical."""
    import pyarrow.parquet as pq_

    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.plans import explain
    from columnar_aware_dedup_spark.sources.store import compact_store
    from columnar_aware_dedup_spark.streaming.bm25 import merge_bm25_delta
    from tests.conftest import rows_equal

    t = pq_.read_table(f"{sf_dir}/documents.parquet")
    tbl = "test_bm25_compact"
    seed_dir = tmp_path / "cp_seed"
    seed_dir.mkdir()
    pq_.write_table(t.slice(0, 200), seed_dir / "documents.parquet")
    write_bm25_index(spark, str(seed_dir), tbl)
    # several small merges -> many small files per bucket
    for lo in range(200, 500, 100):
        rest_dir = tmp_path / f"cp_{lo}"
        rest_dir.mkdir()
        pq_.write_table(t.slice(lo, 100), rest_dir / "d.parquet")
        merge_bm25_delta(
            spark, spark.read.parquet(str(rest_dir / "d.parquet")), tbl
        )
    before_rows = bm25_from_index(spark, tbl).collect()

    files_before, files_after = compact_store(
        spark, tbl, n_buckets=8, key="term", dedupe=False
    )
    assert files_after < files_before
    assert files_after <= 8  # one sorted file per term bucket

    served = bm25_from_index(spark, tbl)
    plan = explain.plan_string(served, "formatted")
    assert "SelectedBucketsCount: 3 out of 8" in plan, plan
    assert rows_equal(served, spark.createDataFrame(before_rows))


def test_passage_rrf_fusion_and_index_twin(spark, sf_dir, tmp_path):
    """The passage-level hybrid: fusion through the SAME generalized
    fuse_rrf tail must produce a top-20 with both list ranks populated
    somewhere, and serving BOTH lists from persisted indexes (r11: the
    term-bucketed passage BM25 postings + the cell-partitioned passage
    IVF index) must be result-identical — the fully-index-served shape
    the doc-level ``rrf_from_index`` established, one level down."""
    from columnar_aware_dedup_spark.operators import retrieval, search

    fused = retrieval.passage_rrf_fusion(spark, sf_dir)
    rows = fused.collect()
    assert 0 < len(rows) <= 20
    assert {"doc_id", "passage_idx", "lex_rank", "dense_rank", "rrf_score"} \
        <= set(fused.columns)
    # both sides contribute: some row carries a lexical rank, some a dense
    assert any(r["lex_rank"] is not None for r in rows)
    assert any(r["dense_rank"] is not None for r in rows)

    path = str(tmp_path / "prrf_ivf")
    search.write_passage_ivf_index(spark, sf_dir, path)
    retrieval.write_bm25_index(
        spark, sf_dir, "test_prrf_bm25", keys=search.PASSAGE_KEYS
    )
    served = retrieval.rrf_from_index(
        spark, "test_prrf_bm25", spark.read.parquet(path),
        search.PASSAGE_KEYS,
    ).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, rows))


def test_passage_bm25_index_serving_is_result_identical(spark, sf_dir):
    """The passage BM25 index must serve the exact same top-20 as the
    registered in-plan passage ranking, with the doc-level serving plan's
    properties intact at passage granularity: the searched terms' buckets
    are the only postings read and the ranking is a TakeOrdered heap."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        passage_bm25_topk,
        write_bm25_index,
    )
    from columnar_aware_dedup_spark.operators.search import PASSAGE_KEYS
    from columnar_aware_dedup_spark.plans import explain
    from tests.conftest import rows_equal

    write_bm25_index(spark, sf_dir, "pbm25_idx_test", keys=PASSAGE_KEYS)
    served = bm25_from_index(spark, "pbm25_idx_test", keys=PASSAGE_KEYS)
    plan = explain.plan_string(served, "formatted")
    assert explain.n_exchanges(served) <= 2, plan
    assert explain.has_take_ordered(served), plan
    assert "SelectedBucketsCount: 3 out of 8" in plan, plan
    assert rows_equal(served, passage_bm25_topk(spark, sf_dir))


def test_passage_bm25_fold_parity(spark, sf_dir):
    """The passage index's streaming fold (two waves + replay-zero) must
    converge to the genesis-built index: served top-20 identical to the
    in-plan passage ranking, and the wave-1 replay indexes zero docs
    (tf/N/avgdl are additive at passage scope too — a double-count would
    shift every served score permanently)."""
    from pyspark.sql import functions as F

    from columnar_aware_dedup_spark.io import table as _table
    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_from_index,
        init_bm25_tables,
        passage_bm25_topk,
    )
    from columnar_aware_dedup_spark.operators.search import PASSAGE_KEYS
    from columnar_aware_dedup_spark.streaming.bm25 import merge_bm25_delta
    from tests.conftest import rows_equal

    tbl = "test_pbm25_fold"
    init_bm25_tables(spark, tbl, keys=PASSAGE_KEYS)
    docs = _table(spark, sf_dir, "documents")
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 != 0)

    def merge(d):
        return merge_bm25_delta(spark, d, tbl, sweep=False, keys=PASSAGE_KEYS)

    assert merge(wave1) > 0
    assert merge(wave1) == 0
    assert merge(wave2) > 0
    assert rows_equal(
        bm25_from_index(spark, tbl, keys=PASSAGE_KEYS),
        passage_bm25_topk(spark, sf_dir),
    )


def test_doc_fuse_rrf_key_generalization_is_identity(spark, sf_dir):
    """The r09 key generalization of fuse_rrf must be a NO-OP for the
    registered doc-level hybrid: explicit ("doc_id",) keys produce the
    identical fused table (guards the default-arg path against drift)."""
    from columnar_aware_dedup_spark.operators import retrieval

    lex, dense = retrieval._doc_lists(spark, sf_dir)
    a = retrieval.fuse_rrf(lex, dense).collect()
    b = retrieval.fuse_rrf(lex, dense, keys=("doc_id",)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a


@pytest.mark.parametrize(
    "keys, registry_rows",
    [
        (("doc_id",), {(1,): 0, (2,): 0, (3,): 2}),
        (("doc_id", "passage_idx"), {(1, 0): 0, (2, 0): 0, (3, 0): 2}),
    ],
    ids=["doc", "passage"],
)
def test_registry_null_text_is_zero_not_minus_one(spark, keys, registry_rows):
    """Spark's size(NULL) is -1; a NULL-text document (one item, a doc or
    its one passage) must register dl=0 like an empty one (review
    findings: -1 would poison the persisted index's dl_sum and shift
    every served avgdl off the from-scratch path, which drops token-less
    items before its average), the stats partial must sum the true
    lengths, and the merge must absorb its replay to zero."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        bm25_frames,
        corpus_stats,
        init_bm25_tables,
    )
    from columnar_aware_dedup_spark.streaming.bm25 import merge_bm25_delta

    docs = spark.createDataFrame(
        [
            (1, None, "en", "planted", 0),
            (2, "", "en", "planted", 0),
            (3, "two tokens", "en", "planted", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _postings, registry = bm25_frames(docs, keys)
    rows = {tuple(r[k] for k in keys): r["dl"] for r in registry.collect()}
    assert rows == registry_rows, rows
    stats = corpus_stats(registry).collect()[0]
    assert (stats["n_docs"], stats["n_dl_docs"], stats["dl_sum"]) == (3, 1, 2)

    tbl = init_bm25_tables(spark, f"test_bm25_nulltext_{len(keys)}", keys=keys)
    assert merge_bm25_delta(spark, docs, tbl, sweep=False, keys=keys) == 3
    assert merge_bm25_delta(spark, docs, tbl, sweep=False, keys=keys) == 0
    stats = spark.table(tbl + "_stats").collect()
    assert sum(r["dl_sum"] for r in stats) == 2
    assert sum(r["n_dl_docs"] for r in stats) == 1


# -- rank-biased overlap ------------------------------------------------------


def test_rbo_weight_table_identities():
    """The integer weight table's defining identities: summing a match at
    every rank recovers exactly the normalizer (identical lists -> rbo
    1), the weights decrease with first-appearance depth, and each W[m]
    equals the hand-computed (1-p) sum_{d=m..K} p^(d-1)/d mass scaled by
    lcm(1..K) * 10^K (float check to 12 dp — the table itself stays
    integer)."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        _RBO_DEN,
        _RBO_K,
        _RBO_W,
        _rbo_weights,
    )

    w, den = _rbo_weights()
    assert (w, den) == (_RBO_W, _RBO_DEN)
    assert sum(w) == den
    assert all(a > b > 0 for a, b in zip(w, w[1:]))
    scale = 2520 * 10**_RBO_K
    for m in range(1, _RBO_K + 1):
        mass = sum(0.1 * 0.9 ** (d - 1) / d for d in range(m, _RBO_K + 1))
        assert abs(w[m - 1] / scale - mass) < 1e-12


def test_rbo_identical_lists_is_exactly_one(spark, tmp_path):
    """A corpus of >= K identical docs (containing the query terms) ties
    every score, so both lists fall back to the doc_id tiebreak and come
    out identical -> rbo_num == rbo_den exactly, n_common == K."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from columnar_aware_dedup_spark.operators.retrieval import (
        _RBO_K,
        retrieval_rbo_report,
    )

    text = "vector stream merge alpha beta gamma"
    t = pa.table(
        {
            "doc_id": pa.array(range(12), pa.int64()),
            "text": pa.array([text] * 12, pa.string()),
            "lang": pa.array(["en"] * 12, pa.string()),
            "source": pa.array(["s"] * 12, pa.string()),
            "n_chars": pa.array([len(text)] * 12, pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))
    row = retrieval_rbo_report(spark, str(tmp_path)).collect()[0]
    assert row["n_common"] == _RBO_K
    assert row["rbo_num"] == row["rbo_den"]
    assert row["rbo_pct"] == 100


def test_rbo_fixture_report_is_bounded(spark, sf_dir):
    """On the real fixture the statistic is a valid ratio: 0 <= num <=
    den, overlap_at_5 <= n_common <= K, and the truncated-percentage
    integer agrees with the exact integer division."""
    from columnar_aware_dedup_spark.operators.retrieval import (
        _RBO_K,
        retrieval_rbo_report,
    )

    row = retrieval_rbo_report(spark, sf_dir).collect()[0]
    assert 0 <= row["rbo_num"] <= row["rbo_den"]
    assert 0 <= row["overlap_at_5"] <= row["n_common"] <= _RBO_K
    assert row["rbo_pct"] == (row["rbo_num"] * 100) // row["rbo_den"]
