"""Relational operator surface (SURVEY §2.12).

The reference has no relational algebra — its only "join" is the chunk-store
HashMap probe (``/root/reference/src/main/java/vmware/speedup/cawd/dedup/
ColumnarChunkStore.java:10``) and its only "aggregation" is the TransferStats
rollup (``common/TransferStats.java:49-72``). Our engine is built *on* Spark's
relational core, so this module declares the full standard surface — scans,
filters, every join flavor, hash/cube/rollup/pivot aggregation, windows,
top-k, set ops, and the scalar-function families — each as a thin, readable
DataFrame query with a DuckDB oracle.

Determinism discipline (FIXTURES.md): double sums go through DECIMAL
(associative => partial/final agg order can't shift the value); every window
order is a total order (unique-key tiebreak); every computed column is
aliased identically on both sides.

Scale notes: all joins here are plain equi-joins Catalyst is free to
broadcast (dimension tables) or shuffle (fact-fact); aggregations are
partial->final; nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.functions.hashing import (
    exact_sum,
    exact_sum_sql,
    row_signature,
    row_signature_sql,
)
from columnar_aware_dedup_spark.io import table
from columnar_aware_dedup_spark.registry import register


def _dec_sum(col) -> F.Column:
    """sum(decimal) surfaced as double — deterministic double aggregation."""
    return F.sum(col.cast("decimal(28,6)")).cast("double")


# ---------------------------------------------------------------------------
# scans / projections / filters
# ---------------------------------------------------------------------------

@register(
    "scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
""",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + per-row arithmetic; Catalyst prunes the scan to 4 columns."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@register(
    "filter_pred",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_quantity > 25
  AND l_returnflag <> 'R'
""",
)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicates — all pushed to the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_quantity") > 25)
        & (F.col("l_returnflag") != "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# joins — every flavor the engine's dedup core is built from
# ---------------------------------------------------------------------------

@register(
    "join_inner",
    oracle="""
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join, dimension side broadcast-able (customer << orders at scale)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@register(
    "join_left",
    oracle="""
SELECT c.c_custkey, o.o_orderkey
FROM customer c LEFT JOIN orders o
  ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate (kept in the ON clause)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "F"), "left"
    ).select("c_custkey", "o_orderkey")


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi — the chunk-store *hit* set in relational form."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti — the chunk-store *miss* set (what must be transferred)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    oracle="""
SELECT n.n_name, s.s_suppkey
FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full_outer").select(
        "n_name", "s_suppkey"
    )


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

@register(
    "groupby_sum_count",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_quantity')} AS sum_qty,
       {exact_sum_sql('l_extendedprice')} AS sum_base_price,
       {exact_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {exact_sum_sql('l_quantity')} / COUNT(*) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def groupby_sum_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (hash agg, partial->final)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            (exact_sum("l_quantity") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_sql(frac: float, alias: str) -> str:
    # interpolate on DOUBLE (continuous quantiles disagree on DECIMAL inputs
    # across engines), then fixed-scale render for hash parity.
    return (
        f"CAST(CAST(quantile_cont(CAST(l_quantity AS DOUBLE), {frac}) "
        f"AS DECIMAL(28,6)) AS DOUBLE) AS {alias}"
    )


def _q_col(frac: float) -> F.Column:
    return (
        F.percentile(F.col("l_quantity").cast("double"), F.lit(frac))
        .cast("decimal(28,6)")
        .cast("double")
    )


@register(
    "grouped_percentile",
    oracle=f"""
SELECT l_returnflag,
       {_q_sql(0.25, 'p25_qty')}, {_q_sql(0.5, 'p50_qty')}, {_q_sql(0.75, 'p75_qty')}
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def grouped_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (fixes the reference's copy-paste p50/p75
    bug, ``common/TransferStats.java:150-152``).

    Scalar p25/p50/p75 columns (not an ``array<double>``): the driver's
    value-hasher cannot hash list cells. Scale contract: exact percentiles
    buffer each group's values — see ``grouped_percentile_approx`` for the
    mergeable-sketch path that survives 100x group sizes.
    """
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            _q_col(0.25).alias("p25_qty"),
            _q_col(0.5).alias("p50_qty"),
            _q_col(0.75).alias("p75_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "grouped_percentile_approx",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS p25_rank_ok,
       TRUE AS p50_rank_ok,
       TRUE AS p75_rank_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def grouped_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via ``approx_percentile`` (Greenwald-Khanna),
    HASH-CHECKED since r06 via the rank-space tolerance-bit certificate
    (``stats.approx_rank_certificate`` — the ``approx_distinct`` discipline
    generalized to percentiles): per group, the exact row count plus a
    tie-safe boolean per sketch output asserting its rank lands within
    tolerance of p·n. The 100 TB contract is unchanged — bounded mergeable
    sketch per group instead of value buffering. Flip test:
    ``tests/test_planted_round6.py::test_rank_certificate_bits_flip_on_wrong_values``."""
    from columnar_aware_dedup_spark.operators.stats import (
        approx_rank_certificate,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("double").alias("v")
    )
    return approx_rank_certificate(li, "l_returnflag", "v").orderBy(
        "l_returnflag"
    )


@register(
    "distinct_count",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "approx_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_within_10pct
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB path where exact distinct is a full
    shuffle on the value.

    The HLL++ estimate itself is engine-specific, so the hash-checked contract
    is a *tolerance bit*: the engine emits the exact count plus a boolean
    asserting the sketch landed within 10% (HLL++ rsd default 0.05); the
    oracle asserts TRUE. A sketch regression flips the bit and fails the hash.
    """
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey").alias("_approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            within_pct_bit("_approx", "exact_parts", 0.10).alias(
                "approx_within_10pct"
            ),
        )
        .orderBy("l_returnflag")
    )


def within_pct_bit(approx_col: str, exact_col: str, pct: float):
    """|approx - exact| <= pct * exact as a Column — the tolerance bit of
    :func:`approx_distinct`, split out so the falsifiability test
    (``tests/test_certificates.py``) can prove the bit flips on a sketch
    value outside the band."""
    return F.abs(F.col(approx_col) - F.col(exact_col)) <= pct * F.col(
        exact_col
    )


@register(
    "cube_agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity").alias("sum_qty"), F.count("*").alias("n")
    )


@register(
    "rollup_agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {exact_sum_sql('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "lineitem").rollup(
        "l_returnflag", "l_linestatus"
    ).agg(exact_sum("l_extendedprice").alias("sum_price"))


@register(
    "pivot_agg",
    oracle=f"""
SELECT l_returnflag,
       {exact_sum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o,
       {exact_sum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(exact_sum("l_quantity"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------

@register(
    "window_rank",
    oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(rank()       OVER w AS INTEGER) AS price_rank,
       CAST(dense_rank() OVER w AS INTEGER) AS price_dense_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window; order is total (o_orderkey tiebreak) for determinism."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@register(
    "window_lag_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       lag(o_totalprice) OVER w AS prev_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER
            (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_lag_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic (lag) + running frame; running sum in DECIMAL for parity."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "orderby_limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject (per-partition heap + merge),
    no full sort — the scale-safe form."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# set operations (SURVEY §2.7 — the miss-queue is a set difference)
# ---------------------------------------------------------------------------

@register(
    "set_union",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no suppliers — the 'what must transfer'
    shape (``orc/net/StripePlusColumnORCStreamer.java:136,176-192``)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# ---------------------------------------------------------------------------
# scalar function families (SURVEY §2.8)
# ---------------------------------------------------------------------------

@register(
    "string_fns",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_name, 1, 8) AS name_prefix,
       CAST(length(p_name) AS INTEGER) AS name_len,
       regexp_replace(p_type, '[aeiou]', '', 'g') AS type_consonants,
       CAST(strpos(p_type, 'a') AS INTEGER) AS first_a,
       concat(p_brand, '#', p_type) AS brand_type,
       trim(p_name) AS name_trim
FROM part
""",
)
def string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_type", "[aeiou]", "").alias("type_consonants"),
        F.instr("p_type", "a").alias("first_a"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
    )


@register(
    "date_fns",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS order_day,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
         AS days_since_epoch_start
FROM orders
""",
)
def date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@register(
    "math_fns",
    oracle="""
SELECT c_custkey,
       round(CAST(c_acctbal AS DOUBLE), 0) AS bal_round,
       abs(c_acctbal) AS bal_abs,
       CAST(ceil(c_acctbal) AS BIGINT) AS bal_ceil,
       CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
       round(ln(abs(c_acctbal) + 1), 6) AS bal_ln,
       round(sqrt(abs(c_acctbal)), 6) AS bal_sqrt
FROM customer
""",
)
def math_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.round("c_acctbal", 0).alias("bal_round"),
        F.abs("c_acctbal").alias("bal_abs"),
        F.ceil("c_acctbal").alias("bal_ceil"),
        F.floor("c_acctbal").alias("bal_floor"),
        F.round(F.log(F.abs(F.col("c_acctbal")) + 1), 6).alias("bal_ln"),
        F.round(F.sqrt(F.abs(F.col("c_acctbal"))), 6).alias("bal_sqrt"),
    )


@register(
    "array_fns",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       list_contains(string_split(text, ' '), 'data') AS has_data,
       array_to_string(list_sort(string_split(text, ' '))[1:5], ',') AS first5_sorted
FROM documents
""",
)
def array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_join(F.slice(F.array_sort(toks), 1, 5), ",").alias("first5_sorted"),
    )


@register(
    "json_extract",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int
FROM events
""",
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
    )


# ---------------------------------------------------------------------------
# signatures / exact dedup on rows
# ---------------------------------------------------------------------------

_ORDERS_SIG_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


@register(
    "row_signature",
    oracle=f"""
SELECT o_orderkey, {row_signature_sql(_ORDERS_SIG_COLS)} AS row_sig
FROM orders
""",
)
def row_signature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content signature per row — the finest-grained chunk the engine signs
    (reference signs byte ranges, ``dedup/ChunkingAlgorithm.java:13-18``)."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey", row_signature(_ORDERS_SIG_COLS).alias("row_sig")
    )


@register(
    "dedup_exact_rows",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus, l_quantity, l_discount
FROM lineitem
""",
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates == SELECT DISTINCT — exact row-level dedup."""
    return table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_discount"
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# macro queries: TPC-H-shaped multi-operator compositions
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg -> top-k."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "q5_local_supplier",
    oracle=f"""
SELECT n.n_name,
       {exact_sum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join across 6 tables; small dims broadcast."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )
