"""Training-data curation operators beyond filtering/dedup: benchmark
decontamination, PII redaction, sequence packing, stratified sampling.

These complete the LLM-pipeline surface (north-star extension; no reference
analogue — the reference dedups bytes, a training pipeline also has to
*curate*). All four are hash-checked (H) against DuckDB; the only
engine-specific care is float discipline (everything here is integer/string
work) and identical regex/hash semantics on both sides.

Scale notes per operator:

- **decontamination**: the eval set's distinct n-grams are tiny relative to
  the corpus (benchmarks are MBs, corpora are TBs) — broadcast them and the
  train side never shuffles its grams; the per-doc overlap count is one
  partial-aggregated groupBy on doc_id.
- **PII redaction**: pure narrow map (regexp built-ins, WholeStageCodegen);
  zero shuffles at any scale.
- **sequence packing**: packing is per-source (PARTITION BY source), so the
  cumulative-sum window parallelizes across sources/shards instead of one
  global total order — the standard concat-and-chunk layout used for LLM
  training batches. One shuffle on source.
- **stratified sampling**: deterministic hash-threshold keep decision
  (md5-hex prefix compare) — a narrow map, reproducible run-to-run and
  engine-to-engine, unlike ``df.sample`` whose RNG is partition-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.text import (
    _NORM_SQL,
    _SPANS_SPARK,
    _SPANS_SQL,
    _band_exprs,
    _band_rows,
    _grams_spark,
    _grams_sql,
    _minhash_slots_spark,
    _minhash_slots_sql,
    normalized,
)
from columnar_aware_dedup_spark.registry import register

# -- benchmark decontamination ------------------------------------------------

#: contamination n-gram width (GPT-3 appendix C uses 13; fixture docs are
#: ~40-70 tokens from a small vocabulary, so 8 keeps the test meaningful).
_DECON_N = 8
#: deterministic "benchmark" slice: every 97th doc plays the eval set.
_EVAL_MOD = 97


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks FROM documents),
g AS (SELECT doc_id, unnest(list_distinct({_grams_sql(_DECON_N)})) AS gram FROM t),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_EVAL_MOD} = 0),
h AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM g JOIN e USING (gram)
      WHERE g.doc_id % {_EVAL_MOD} <> 0
      GROUP BY g.doc_id)
SELECT t.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap_grams,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM t LEFT JOIN h ON t.doc_id = h.doc_id
WHERE t.doc_id % {_EVAL_MOD} <> 0
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing an n-gram with
    the eval set (GPT-3-style overlap check, distinct 8-gram granularity).

    The eval slice (``doc_id % 97 == 0``) stands in for a benchmark suite;
    its distinct grams broadcast (eval sets are small by construction), so
    the train side's gram stream joins map-side — the only shuffle is the
    per-doc overlap count.
    """
    docs = normalized(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_grams_spark(_DECON_N)))).alias("gram"),
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_overlap_grams"),
            (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# -- PII detection / redaction ------------------------------------------------

#: (name, pattern, replacement) — patterns restricted to syntax with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): \b \d char classes and
#: bounded repetition only. Redaction applies in this order on both sides.
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ssn", r"\b\d\d\d-\d\d-\d\d\d\d\b", "<SSN>"),
    ("phone", r"\b\d\d\d[-.]\d\d\d[-.]\d\d\d\d\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def _pii_oracle() -> str:
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS n_{name}"
        for name, pat, _ in _PII_PATTERNS
    )
    redacted = "text"
    for _, pat, repl in _PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in _PII_PATTERNS
    )
    return (
        "SELECT doc_id,\n       "
        + counts
        + f",\n       ({total}) > 0 AS has_pii"
        + f",\n       md5({redacted}) AS redacted_sig\nFROM documents"
    )


@register("pii_redaction", oracle=_pii_oracle())
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact emails / SSNs / phones / IPv4s.

    A narrow regexp-only map (no shuffle, WholeStageCodegen); the redacted
    text is emitted as an md5 signature so the row stays skinny. The fixture
    corpus is PII-free (all-zero counts) — the positive branch is pinned by
    planted-document tests in ``tests/test_curation.py``.
    """
    from columnar_aware_dedup_spark.io import table

    df = table(spark, sf_dir, "documents")
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for name, pat, _ in _PII_PATTERNS
    ]
    redacted = F.col("text")
    for _, pat, repl in _PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    total = None
    for name, pat, _ in _PII_PATTERNS:
        c = F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        total = c if total is None else total + c
    return df.select(
        "doc_id",
        *counts,
        (total > 0).alias("has_pii"),
        F.md5(redacted).alias("redacted_sig"),
    )


# -- sequence packing ---------------------------------------------------------

#: training-sequence token budget (concat-and-chunk packing).
_SEQ_BUDGET = 1024


@register(
    "sequence_pack",
    oracle=f"""
WITH t AS (SELECT source, doc_id,
                  CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n
           FROM documents),
c AS (SELECT source, doc_id, n,
             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT source,
       CAST((cum - n) // {_SEQ_BUDGET} AS INTEGER) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc_id,
       MAX(doc_id) AS last_doc_id
FROM c
GROUP BY source, seq_id
""",
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign docs to fixed token-budget
    training sequences per source shard.

    A doc's sequence is the one its *first* token lands in under cumulative
    concatenation (``floor((cum - n) / budget)``) — deterministic, integer
    arithmetic only. PARTITION BY source keeps the cumsum window parallel
    across shards; a global ORDER BY would serialize the whole corpus
    through one task at 100 TB.
    """
    docs = normalized(spark, sf_dir).select(
        "source", "doc_id", F.size("toks").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("cum", F.sum("n").over(w))
    return (
        c.withColumn(
            "seq_id", F.floor((F.col("cum") - F.col("n")) / _SEQ_BUDGET).cast("int")
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


# -- corpus-level line dedup (C4-style) ---------------------------------------

#: "line" width in tokens: fixture docs are single-line token streams, so the
#: C4 notion of a line becomes a fixed 10-token segment (documented
#: adaptation; the dataflow — explode lines, dedup globally, reassemble in
#: order — is exactly the C4 line-dedup pipeline).
_LINE_W = 10

_SEGS_SPARK = (
    f"transform(sequence(0, cast(ceil(size(toks) / {_LINE_W}.0) as int) - 1),"
    f" i -> array_join(slice(toks, i * {_LINE_W} + 1, {_LINE_W}), ' '))"
)


@register(
    "line_dedup_corpus",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
  FROM documents WHERE {_NORM_SQL} <> ''
),
s1 AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CAST(ceil(len(toks) / {_LINE_W}.0) AS INT) - 1))
             AS seg_idx
  FROM t
),
segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(toks[seg_idx * {_LINE_W} + 1 : seg_idx * {_LINE_W} + {_LINE_W}], ' ')
             AS seg
  FROM s1
),
keep AS (
  SELECT doc_id, seg_idx, seg FROM segs
  QUALIFY row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) = 1
),
ka AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS cleaned_sig
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(len(t.toks) / {_LINE_W}.0) AS BIGINT) AS n_segments,
       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(ka.cleaned_sig, '') AS cleaned_sig
FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id
""",
)
def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup: drop every repeated line (10-token
    segment) across the WHOLE corpus, keeping only its first occurrence
    (lowest ``(doc_id, seg_idx)``), then reassemble each doc in order.

    This is the C4 "three-sentence span" / line-dedup pipeline re-expressed:
    segment -> global dedup on content hash -> ordered reassembly. The
    fixture's docs are single-line token streams, so a "line" is a fixed
    10-token segment (stated adaptation; the dataflow is the operator).

    Plan at scale: the keeper is ``min(struct(doc_id, seg_idx, seg))`` per
    segment hash — ONE partial-aggregated shuffle, no window sort over the
    exploded segment table (a signature window would sort ~10x the corpus;
    the same lesson as the dedup core's r02 rewrite). Reassembly is one
    groupBy(doc_id) whose per-group sort is array-local; per-doc segment
    totals come from the narrow doc table, not the exploded one.
    """
    docs = normalized(spark, sf_dir).filter(F.col("norm") != "")
    segs = docs.select(
        "doc_id", F.posexplode(F.expr(_SEGS_SPARK)).alias("seg_idx", "seg")
    )
    kept = (
        segs.groupBy(F.md5("seg").alias("sig"))
        .agg(F.min(F.struct("doc_id", "seg_idx", "seg")).alias("k"))
        .select("k.doc_id", "k.seg_idx", "k.seg")
    )
    ka = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda x: x.seg,
                ),
                " ",
            )
        ).alias("cleaned_sig"),
    )
    return (
        docs.select(
            "doc_id",
            F.ceil(F.size("toks") / F.lit(float(_LINE_W)))
            .cast("bigint")
            .alias("n_segments"),
        )
        .join(ka, "doc_id", "left")
        .select(
            "doc_id",
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("cleaned_sig", F.lit("")).alias("cleaned_sig"),
        )
    )


# -- stratified sampling ------------------------------------------------------

#: per-source keep thresholds over the first 4 md5-hex chars (of 0x10000):
#: lexicographic compare of lowercase hex == numeric compare, identical in
#: both engines. Unlisted sources fall back to the default rate.
_SAMPLE_THRESHOLDS = {"src0": "4000", "src1": "8000"}  # 25 %, 50 %
_SAMPLE_DEFAULT = "2000"  # 12.5 %


def _sample_thr_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN '{t}'" for s, t in _SAMPLE_THRESHOLDS.items()
    )
    return f"CASE {whens} ELSE '{_SAMPLE_DEFAULT}' END"


@register(
    "stratified_sample",
    oracle=f"""
WITH t AS (
  SELECT source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < {_sample_thr_sql()} AS keep
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       round(CAST(COUNT(*) FILTER (WHERE keep) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS kept_frac
FROM t
GROUP BY source
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsampling: keep a doc iff the md5-hex
    prefix of its id clears the source's threshold.

    Unlike ``df.sample`` (partition-layout-dependent RNG), the keep decision
    is a pure function of (doc_id, source) — stable across runs, engines,
    and repartitioning, which is what makes a sampled corpus reproducible.
    Narrow map + one aggregation shuffle on source.
    """
    from columnar_aware_dedup_spark.io import table

    thr = F.lit(_SAMPLE_DEFAULT)
    for s, t in _SAMPLE_THRESHOLDS.items():
        thr = F.when(F.col("source") == s, t).otherwise(thr)
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < thr
    return (
        table(spark, sf_dir, "documents")
        .select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.round(
                F.sum(F.col("keep").cast("long")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("kept_frac"),
        )
    )


# -- deterministic corpus shuffle + split ------------------------------------

#: salt for the shuffle/split hash — changing it re-shuffles reproducibly.
_SHUFFLE_SALT = "epoch0"


@register(
    "corpus_shuffle",
    oracle=f"""
SELECT doc_id, source,
       md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}') AS shuffle_key,
       CAST(row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}'), doc_id
       ) AS BIGINT) AS position
FROM documents
ORDER BY position
""",
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: the reproducible training-order pass.

    Training runs need the corpus in a random-but-reproducible order
    (re-runs, resumption, and data ablations must see identical batches).
    ``df.orderBy(rand())`` is neither reproducible across engines nor stable
    under retries; hashing a salt into the key is both. A new epoch is a new
    salt, not a new algorithm.

    Global positions WITHOUT a global window (``row_number over (order by
    key)`` funnels the corpus through one partition): the md5 key's leading
    byte buckets rows into 256 uniform groups; rank within bucket in
    parallel, then add per-bucket offsets from a 256-row running sum — the
    only single-partition step touches exactly 256 rows at any corpus size.
    Bucket-then-offset IS the distributed global-numbering pattern (the
    DataFrame form of zipWithIndex).
    """
    from columnar_aware_dedup_spark.io import table

    d = table(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT)))
    keyed = d.select("doc_id", "source").withColumn("shuffle_key", key)
    # leading md5 byte = bucket; ordering by (bucket, key) == ordering by key.
    keyed = keyed.withColumn(
        "_b", F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int")
    )
    wb = Window.partitionBy("_b").orderBy("shuffle_key", "doc_id")
    local = keyed.withColumn("_pos_in_b", F.row_number().over(wb))
    offsets = (
        keyed.groupBy("_b")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn("position", (F.col("_offset") + F.col("_pos_in_b")).cast("bigint"))
        .select("doc_id", "source", "shuffle_key", "position")
    )


#: split thresholds on the first 4 hex chars of md5(doc_id||salt):
#: ~90% train / ~5% val / ~5% test, deterministic per doc forever.
_VAL_LO, _TEST_LO = 0xE666, 0xF333


@register(
    "corpus_split",
    oracle=f"""
WITH h AS (
  SELECT source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SALT}'), 1, 4)) AS INTEGER) AS b
  FROM documents
)
SELECT source,
       CASE WHEN b < {_VAL_LO} THEN 'train'
            WHEN b < {_TEST_LO} THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM h
GROUP BY source, split
ORDER BY source, split
""",
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test assignment (~90/5/5), per-source counts.

    The split must be a pure function of the document identity — growing the
    corpus, re-running, or re-sharding must never move a doc across splits
    (that's eval-set leakage). Same discipline as ``stratified_sample``:
    decide from an md5 prefix, not an RNG. Narrow map + one aggregation; at
    100 TB the assignment is also the partition column for the written
    layout, so downstream eval jobs prune to their split.
    """
    from columnar_aware_dedup_spark.io import table

    d = table(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT))
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    split = (
        F.when(bucket < _VAL_LO, "train")
        .when(bucket < _TEST_LO, "val")
        .otherwise("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("source", "split")
    )


def _cluster_split_oracle() -> str:
    from columnar_aware_dedup_spark.operators.clustering import (
        _LABELS_SQL,
        _closure_sql,
        _pairs_sql,
    )

    return f"""
WITH RECURSIVE {_pairs_sql()},
{_closure_sql()},
{_LABELS_SQL},
j AS (
  SELECT d.doc_id, labels.cluster_id,
         COALESCE(labels.cluster_id, d.doc_id) AS k
  FROM documents d LEFT JOIN labels USING (doc_id)
),
h AS (
  SELECT doc_id, cluster_id,
         CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':{_SHUFFLE_SALT}'),
                              1, 4)) AS INTEGER) AS b
  FROM j
)
SELECT doc_id, cluster_id,
       CASE WHEN b < {_VAL_LO} THEN 'train'
            WHEN b < {_TEST_LO} THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


@register("cluster_aware_split", oracle=_cluster_split_oracle())
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT leak across:
    every doc hashes its near-dup CLUSTER id (min member — the keeper)
    instead of its own id, so a whole component lands in one split;
    singletons hash their own id, reproducing ``corpus_split`` exactly.
    This is the split ``corpus_split`` cannot give you — a doc and its
    one-word-edited mirror hash to independent buckets there, and a
    near-dup of a test doc sitting in train is exactly the eval
    contamination Lee et al. 2022 measure.

    Plan shape: the near-dup labels cost one banded LSH pass + the
    log-round star contraction (shared machinery with
    ``near_dup_clusters``; at 100 TB the labels are the MAINTAINED table
    from ``streaming/clusters.py``, so the split pass reads them instead
    of recomputing); the assignment itself is a left join on doc_id plus a
    narrow md5 map — the same pure-function-of-identity discipline as
    ``corpus_split``, with the identity coarsened to the cluster.
    """
    from columnar_aware_dedup_spark.io import table
    from columnar_aware_dedup_spark.operators.clustering import (
        near_dup_clusters,
    )

    labels = near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    d = table(spark, sf_dir, "documents").select("doc_id")
    j = d.join(labels, "doc_id", "left")
    key = F.coalesce("cluster_id", "doc_id")
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", key.cast("string"), F.lit(_SHUFFLE_SALT))),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    split = (
        F.when(bucket < _VAL_LO, "train")
        .when(bucket < _TEST_LO, "val")
        .otherwise("test")
    )
    return j.select("doc_id", "cluster_id", split.alias("split"))


# -- partitioned curated-corpus sink -----------------------------------------


def write_curated_corpus(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the curated corpus as a split/lang-partitioned layout.

    The end of every curation run is a WRITE, and the layout is the contract
    with the training job: ``split=…/lang=…`` directory partitioning means a
    trainer's reader prunes to ``split=train`` (and an eval harness to
    ``split=val``) at the file-listing level — zero bytes of the other
    splits are opened. Partition columns are low-cardinality (3 splits × few
    langs), so the file count stays sane at 100 TB; the high-cardinality
    axis (doc_id) stays *inside* the files.

    Pipeline = quality filter → normalize → exact-dedup keeper (the
    ``pipeline_curate`` plan) + hash split assignment (``corpus_split``
    discipline), one job, one pass over the corpus.
    """
    from columnar_aware_dedup_spark.operators.text import normalized

    d = normalized(spark, sf_dir).filter(
        (F.col("n_chars") >= 30) & (F.col("norm") != "")
    )
    w = Window.partitionBy(F.md5("norm")).orderBy("doc_id")
    kept = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "toks")
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(_SHUFFLE_SALT))
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("int")
    split = (
        F.when(bucket < _VAL_LO, "train")
        .when(bucket < _TEST_LO, "val")
        .otherwise("test")
    )
    (
        kept.withColumn("split", split)
        .write.partitionBy("split", "lang")
        .mode("overwrite")
        .parquet(out_dir)
    )


# -- corpus report card -------------------------------------------------------


@register(
    "corpus_report",
    oracle=f"""
WITH t AS (
  SELECT source, lang, doc_id, n_chars,
         {_NORM_SQL} AS norm,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) > 1 AS is_dup
  FROM t
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM d
GROUP BY source, lang
ORDER BY source, lang
""",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus report card: per (source, lang) volume, token mass, and
    exact-duplicate burden — the first query a curation run's owner looks at
    and the one dashboards poll.

    One pass: narrow normalize, one window on the text signature for the
    duplicate flag (same single-shuffle keeper discipline as
    ``pipeline_curate``), one partial-aggregated rollup on the
    low-cardinality (source, lang) key.
    """
    t = normalized(spark, sf_dir).select(
        "source",
        "lang",
        "doc_id",
        "n_chars",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.md5("norm").alias("_sig"),
    )
    w = Window.partitionBy("_sig").orderBy("doc_id")
    d = t.withColumn("is_dup", F.row_number().over(w) > 1)
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("source", "lang")
    )


# -- temperature-weighted domain mixing ---------------------------------------

#: token budget as a fraction of the corpus, and the mixing temperature
#: (alpha=0.5 == sqrt-weighting, the standard multilingual/multi-domain
#: re-balancing that upweights small sources without drowning large ones).
_MIX_BUDGET_FRAC = 0.5


@register(
    "domain_mix_sample",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix:{_SHUFFLE_SALT}'), 1, 4)) AS INTEGER) / 65536.0 AS frac
  FROM documents
),
s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS toks FROM t GROUP BY source),
g AS (SELECT SUM(sqrt(CAST(toks AS DOUBLE))) AS wsum, SUM(toks) AS total FROM s),
r AS (
  SELECT s.source, s.toks,
         round(least(1.0,
           {_MIX_BUDGET_FRAC} * g.total * (sqrt(CAST(s.toks AS DOUBLE)) / g.wsum)
             / CAST(s.toks AS DOUBLE)), 6) AS keep_rate
  FROM s CROSS JOIN g
)
SELECT t.source,
       r.keep_rate,
       CAST(r.toks AS BIGINT) AS source_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN t.frac < r.keep_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN t.frac < r.keep_rate THEN t.n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM t JOIN r ON r.source = t.source
GROUP BY t.source, r.keep_rate, r.toks
ORDER BY t.source
""",
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing (alpha=0.5): compute per-source
    keep rates that re-balance the corpus toward sqrt-of-token-mass shares
    within a global token budget, then keep docs by deterministic hash.

    The mixture spec is data-dependent (rates derive from per-source token
    totals) but the plan never collects: the per-source totals are a tiny
    aggregated frame, the global sums a single-row frame, and both join back
    as broadcasts — so at 100 TB the two extra inputs are measured in
    kilobytes. The keep decision reuses the ``stratified_sample`` md5
    discipline: a doc's fate is a pure function of its id, stable under
    corpus growth and re-sharding.
    """
    t = normalized(spark, sf_dir).select(
        "source",
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            F.lit("mix"),
                            F.lit(_SHUFFLE_SALT),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            / 65536.0
        ).alias("frac"),
    )
    s = t.groupBy("source").agg(F.sum("n_tokens").cast("bigint").alias("toks"))
    g = s.agg(
        F.sum(F.sqrt(F.col("toks").cast("double"))).alias("wsum"),
        F.sum("toks").alias("total"),
    )
    # single-row global frame joined on a literal key (broadcast nested loop
    # over 1 row — the declarative "attach global aggregate" idiom).
    r = (
        s.withColumn("_k", F.lit(1))
        .join(F.broadcast(g.withColumn("_k", F.lit(1))), "_k")
        .drop("_k")
        .select(
            "source",
            "toks",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(_MIX_BUDGET_FRAC)
                    * F.col("total")
                    * (F.sqrt(F.col("toks").cast("double")) / F.col("wsum"))
                    / F.col("toks").cast("double"),
                ),
                6,
            ).alias("keep_rate"),
        )
    )
    return (
        t.join(F.broadcast(r), "source")
        .groupBy("source", "keep_rate", F.col("toks").alias("source_tokens"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("frac") < F.col("keep_rate"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("frac") < F.col("keep_rate"), F.col("n_tokens")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "keep_rate",
            "source_tokens",
            "n_docs",
            "n_kept",
            "tokens_kept",
        )
        .orderBy("source")
    )


# -- cross-source overlap matrix ---------------------------------------------

SOURCE_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split({_NORM_SQL}, ' ') AS toks FROM documents
), s AS (
  SELECT DISTINCT source, unnest({_SPANS_SQL}) AS sig FROM t
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_sigs FROM s GROUP BY source
), pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS shared_sigs
  FROM s a JOIN s b ON a.sig = b.sig AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.shared_sigs,
       ta.n_sigs AS sigs_a, tb.n_sigs AS sigs_b,
       round(CAST(p.shared_sigs AS DOUBLE) / ta.n_sigs, 6) AS frac_of_a,
       round(CAST(p.shared_sigs AS DOUBLE) / tb.n_sigs, 6) AS frac_of_b
FROM pair p
JOIN tot ta ON ta.source = p.source_a
JOIN tot tb ON tb.source = p.source_b
ORDER BY p.source_a, p.source_b
"""


@register("source_overlap_matrix", oracle=SOURCE_OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination report: for every source pair, how many
    distinct hashed 5-token SPANS they share, and what fraction of each
    source's span vocabulary that overlap is — the report a pipeline runs
    before mixing corpora (how much of the crawl duplicates the curated
    set decides the dedup order and the mixing weights). Span-level, not
    whole-doc: partial contamination — the common case — is invisible to
    document signatures.

    Plan shape: one distinct on (source, span_hash), a hash-keyed
    self-join (only spans present in 2+ sources survive — never all-pairs
    of documents), and a #sources²-bounded result joined with the tiny
    per-source totals. Everything shuffles on the 32-char content key.
    """
    s = (
        normalized(spark, sf_dir)
        .select("source", F.explode(F.expr(_SPANS_SPARK)).alias("sig"))
        .distinct()
    )
    tot = s.groupBy("source").agg(F.count("*").alias("n_sigs"))
    a, b = s.alias("a"), s.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_sigs"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n_sigs").alias("sigs_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n_sigs").alias("sigs_b")
    )
    return (
        pair.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_sigs",
            "sigs_a",
            "sigs_b",
            F.round(F.col("shared_sigs") / F.col("sigs_a"), 6).alias("frac_of_a"),
            F.round(F.col("shared_sigs") / F.col("sigs_b"), 6).alias("frac_of_b"),
        )
        .orderBy("source_a", "source_b")
    )


# -- passage extraction ---------------------------------------------------------

#: passage window (tokens) and stride; stride < window gives the overlap RAG
#: retrieval and context-window packing both want. Fixture docs run 10-99
#: tokens, so the split yields 1-4 passages per doc — every branch (short
#: doc, exact-fit tail, ragged tail) occurs at every SF.
_PASSAGE_W = 32
_PASSAGE_S = 24

PASSAGE_SPLIT_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         string_split({_NORM_SQL}, ' ') AS toks,
         len(string_split({_NORM_SQL}, ' ')) AS n
  FROM documents),
p AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(
             0,
             CASE WHEN n <= {_PASSAGE_W} THEN 0
                  ELSE (n - {_PASSAGE_W} + {_PASSAGE_S - 1}) // {_PASSAGE_S}
             END)) AS passage_idx
  FROM d)
SELECT doc_id,
       CAST(passage_idx AS INTEGER) AS passage_idx,
       CAST(len(toks[passage_idx * {_PASSAGE_S} + 1 :
                     passage_idx * {_PASSAGE_S} + {_PASSAGE_W}]) AS INTEGER)
           AS n_tokens,
       md5(array_to_string(
           toks[passage_idx * {_PASSAGE_S} + 1 :
                passage_idx * {_PASSAGE_S} + {_PASSAGE_W}], ' ')) AS passage_sig
FROM p
"""


@register("passage_split", oracle=PASSAGE_SPLIT_ORACLE)
def passage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window passage extraction (window 32 tokens,
    stride 24): the doc -> passage table retrieval indexing and
    long-context training prep both start from. Differs from
    ``sequence_pack`` (docs CONCATENATED into budget sequences) — here each
    doc SPLITS into overlapping windows, id'd by (doc_id, passage_idx) and
    content-addressed by an md5 passage signature (the handle passage-level
    dedup and ANN indexing key on).

    Passage count is pure integer arithmetic — ``1 + ceil((n-W)/S)`` via
    integer division, identical in both engines — and the token slices are
    1-based clamped windows (`slice` / list-slicing agree on both). Plan:
    one narrow projection + `posexplode`-free sequence explode, ZERO
    shuffles — at 100 TB this is a map-only pass whose output is ~n/S
    rows per doc, and the passage_sig column is the pre-shuffle hash
    discipline every downstream groupBy inherits.
    """
    return passage_tokens(spark, sf_dir).select(
        "doc_id",
        "passage_idx",
        F.size("ptoks").alias("n_tokens"),
        F.md5(F.array_join("ptoks", " ")).alias("passage_sig"),
    )


def passage_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, passage_idx, ptoks)``: the shared doc -> passage window
    derivation ``passage_split`` ids/signs and ``passage_near_dup``
    shingles — one copy of the window/stride arithmetic, so the two queries
    cannot desynchronize on passage boundaries."""
    return passage_tokens_of(normalized(spark, sf_dir))


def passage_tokens_of(docs: DataFrame) -> DataFrame:
    """:func:`passage_tokens` over one BATCH of documents-schema rows —
    the form the passage-postings index maintainer folds deltas through
    (``streaming/bm25.py::merge_bm25_delta`` at passage keys): a delta
    arrives as a DataFrame, not a directory, so the window arithmetic must
    apply to any frame carrying (doc_id, text). The corpus-path wrapper above
    delegates here, keeping the ONE copy rule intact. Accepts frames that
    already carry the ``toks`` array (the ``normalized`` shape) and
    derives it otherwise."""
    from columnar_aware_dedup_spark.operators.text import _NORM_SPARK

    w, s = _PASSAGE_W, _PASSAGE_S
    if "toks" not in docs.columns:
        docs = docs.withColumn(
            "toks", F.split(F.expr(_NORM_SPARK), " ")
        )
    # NULL text == empty text (one dl=0 passage): size(NULL toks) is
    # NULL, which would null the window sequence and DROP the doc from
    # the passage table entirely — fatal for the maintained passage
    # index, whose registry doubles as the replay guard (a vanished doc
    # reads forever-fresh and re-processes on every merge; the
    # doc-vector table learned the same lesson). Fixture corpora carry
    # no NULL text, so every registered passage query is value-identical
    # with or without this rule (r11 review).
    d = docs.select(
        "doc_id",
        F.coalesce("toks", F.array(F.lit(""))).alias("toks"),
    ).withColumn("n", F.size("toks"))
    n_last = F.when(
        F.col("n") <= w, F.lit(0)
    ).otherwise(F.expr(f"(n - {w} + {s - 1}) div {s}"))
    return (
        d.withColumn("passage_idx", F.explode(F.sequence(F.lit(0), n_last)))
        .select(
            "doc_id",
            F.col("passage_idx").cast("int").alias("passage_idx"),
            F.slice("toks", F.col("passage_idx") * s + 1, w).alias("ptoks"),
        )
    )


PASSAGE_NEAR_DUP_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         string_split({_NORM_SQL}, ' ') AS dtoks,
         len(string_split({_NORM_SQL}, ' ')) AS n
  FROM documents),
p AS (
  SELECT doc_id, dtoks,
         unnest(generate_series(
             0,
             CASE WHEN n <= {_PASSAGE_W} THEN 0
                  ELSE (n - {_PASSAGE_W} + {_PASSAGE_S - 1}) // {_PASSAGE_S}
             END)) AS passage_idx
  FROM d),
pt AS (
  SELECT doc_id, CAST(passage_idx AS INTEGER) AS passage_idx,
         dtoks[passage_idx * {_PASSAGE_S} + 1 :
               passage_idx * {_PASSAGE_S} + {_PASSAGE_W}] AS toks
  FROM p),
sigs AS (
  SELECT doc_id, passage_idx, md5(array_to_string(toks, ' ')) AS psig,
         {_minhash_slots_sql()}
  FROM pt),
rk AS (
  SELECT *,
         row_number() OVER (PARTITION BY psig
                            ORDER BY doc_id, passage_idx) AS rk,
         count(*) OVER (PARTITION BY psig) AS n_members
  FROM sigs),
cls AS (SELECT * FROM rk WHERE rk = 1),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, passage_idx, n_members, {b} AS band_key, {i} AS band"
      " FROM cls"
      for i, b in enumerate(_band_exprs())
  )}
)
SELECT a.doc_id AS doc_a, a.passage_idx AS passage_a,
       CAST(a.n_members AS BIGINT) AS n_a,
       b.doc_id AS doc_b, b.passage_idx AS passage_b,
       CAST(b.n_members AS BIGINT) AS n_b,
       CAST(COUNT(*) AS BIGINT) AS shared_bands,
       CAST(n_a * n_b AS BIGINT) AS pair_multiplicity
FROM bands a JOIN bands b
  ON a.band_key = b.band_key AND a.band = b.band AND a.doc_id < b.doc_id
GROUP BY doc_a, passage_a, n_a, doc_b, passage_b, n_b
ORDER BY doc_a, passage_a, doc_b, passage_b
"""


def passage_signature_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate passage classes: passages grouped by their content
    signature (the md5 ``passage_split`` already publishes), each class
    carried as its lexicographically-first (doc_id, passage_idx) member
    plus the class population ``n_members`` and the shared MinHash slots
    (identical text ⇒ identical slots, so the per-class min IS every
    member's value). This is the pre-collapse stage of
    :func:`passage_near_dup` — the frame whose size is the number of
    DISTINCT passage texts, not the number of passages."""
    n = spark.sparkContext.defaultParallelism
    sigs = (
        passage_tokens(spark, sf_dir)
        .repartition(n, F.col("doc_id"))
        .select("doc_id", "passage_idx", F.col("ptoks").alias("toks"))
        .select(
            "doc_id",
            "passage_idx",
            F.md5(F.array_join("toks", " ")).alias("psig"),
            *_minhash_slots_spark(),
        )
    )
    # all aggregates are algebraic (min/count), so the one psig-keyed
    # shuffle is map-side combined: m identical boilerplate passages
    # contribute ONE row per input partition to the exchange
    from columnar_aware_dedup_spark.operators.text import _MINHASH_K

    return (
        sigs.groupBy("psig")
        .agg(
            F.min(F.struct("doc_id", "passage_idx")).alias("rep"),
            F.count("*").alias("n_members"),
            *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(_MINHASH_K)],
        )
        .select(
            F.col("rep.doc_id").alias("doc_id"),
            F.col("rep.passage_idx").alias("passage_idx"),
            "n_members",
            *[f"mh{i}" for i in range(_MINHASH_K)],
        )
    )


@register("passage_near_dup", oracle=PASSAGE_NEAR_DUP_ORACLE)
def passage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document passage-level near-duplicate candidates — the consumer
    the ``passage_split`` table exists for (VERDICT r07 "Next round" #7):
    the long-context prep step that finds boilerplate/citation passages
    recurring across different documents, at passage granularity where
    whole-doc MinHash dilutes them below threshold.

    Emits PAIR-CLASSES, not member pairs (VERDICT r08 "What's wrong" #1):
    exact-identical passages are collapsed to one representative per
    content signature BEFORE banding (:func:`passage_signature_classes`),
    so m copies of a hot boilerplate passage — which band-collide in all
    four bands by construction — contribute ONE band row each instead of
    m, and the within-bucket self-join is quadratic in DISTINCT texts,
    never in duplicate multiplicity. Identical-text members are
    duplicates by definition and need no pairwise listing; the collapse
    is visible in the output as ``n_a``/``n_b`` (class populations) and
    ``pair_multiplicity`` (= n_a·n_b, the member-pair count the row
    stands for). Same geometry as ``minhash_near_dup`` (k=8
    one-permutation MinHash over 3-token shingles, 4 bands x 2 rows) from
    the SHARED :func:`passage_tokens` window derivation. Pairs whose
    representatives share a doc are EXCLUDED (``doc_a < doc_b``):
    adjacent windows of one doc overlap by W-S tokens and band-collide by
    stride geometry, not duplication.

    Scale shape: narrow per-passage hashing, ONE map-side-combined
    shuffle to collapse classes, ONE shuffle on (band, band_key) over the
    class-deduped rows, bucket-bounded self-join, map-side-combined pair
    rollup. Never all-pairs over passages, and never quadratic in
    boilerplate multiplicity (the planted O(m) test pins this).
    """
    # lazy checkpoint: the class table feeds BOTH sides of the band
    # self-join, and physical exchange reuse does not fire across the
    # min(struct) aggregate — without it each side would re-pay the
    # corpus-wide shingle hashing (the hybrid's corpus-fold lesson,
    # retrieval._doc_lists)
    classes = passage_signature_classes(spark, sf_dir).localCheckpoint(
        eager=False
    )
    bands = _band_rows(classes, "doc_id", "passage_idx", "n_members")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.passage_idx").alias("passage_a"),
            F.col("a.n_members").alias("n_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.passage_idx").alias("passage_b"),
            F.col("b.n_members").alias("n_b"),
        )
        # count(*), not countDistinct(band): a class emits exactly ONE row
        # per band, so the joined rows of a pair already carry distinct
        # band values — plain count equals the distinct count and skips
        # the distinct-expand exchange
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        .withColumn(
            "pair_multiplicity",
            (F.col("n_a") * F.col("n_b")).cast("long"),
        )
    )


# -- exact-k balanced sampling --------------------------------------------------

#: docs kept per source — under every fixture source's 25-doc population, so
#: the rank cut binds everywhere.
_BALANCED_K = 10

BALANCED_SAMPLE_ORACLE = f"""
WITH r AS (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY source
             ORDER BY md5('bs:' || CAST(doc_id AS VARCHAR))) AS INTEGER) AS rk
  FROM documents)
SELECT source, doc_id, rk FROM r WHERE rk <= {_BALANCED_K}
"""


@register("balanced_sample_exact_k", oracle=BALANCED_SAMPLE_ORACLE)
def balanced_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k=10 docs per source, chosen by md5 order — the balanced-mix
    complement to ``stratified_sample`` (rate-based, so per-source counts
    fluctuate) and ``domain_mix_sample`` (budget-weighted rates): when an
    eval set or an ablation needs a hard per-group quota, a rate cannot
    deliver it. The md5 ranking keeps the ``stratified_sample`` discipline:
    a doc's rank among its source peers is a pure function of doc identity,
    so the same k docs come back under corpus re-sharding, and ADDING docs
    can only push former picks out — never reshuffle survivors' relative
    order (no RNG, no seed drift).

    Plan: one source-keyed window (rank over the md5 sort key) and the rank
    filter. Per-source sort is partition-parallel; at 100 TB with a
    corpus-scale source, the scale path pre-filters to
    ``md5 < threshold(4k/count)`` from a broadcast per-source census before
    ranking — a safety-factored top-k that turns the sort into a
    shortlist — while THIS exact form stays the correctness oracle.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("bs:"), F.col("doc_id").cast("string")))
    )
    from columnar_aware_dedup_spark.io import table

    return (
        table(spark, sf_dir, "documents")
        .select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _BALANCED_K)
    )
