"""Streaming DSIR gate: score a live document stream against a frozen
importance-weight model.

The batch query (``operators.selection.dsir_importance_weights``) fits the
target/raw bucket distributions AND scores in one plan; the streaming
deployment splits the two: the model is fitted offline on a reference
corpus (:func:`operators.selection.fit_dsir_lambda` — one 256-row table),
frozen, and every incoming micro-batch is scored by the SAME
:func:`operators.selection.score_documents` expression — a stateless
broadcast-fold map, so batch/stream parity is exact row equality (the
suite's shared-formula contract, no float tolerance).

Scale: the model row is ~256 decimals — broadcast once per micro-batch for
free; scoring is narrow (no state store, no shuffle), so the gate sustains
whatever rate the file source delivers. Re-fitting on drift is an offline
concern: swap the lambda table and restart the sink, exactly how a
production quality gate rotates classifier versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_aware_dedup_spark.operators.selection import score_documents
from columnar_aware_dedup_spark.operators.text import _NORM_SPARK
from columnar_aware_dedup_spark.streaming import fold



def scored_stream(spark: SparkSession, docs_dir: str, lam: DataFrame) -> DataFrame:
    """Streaming (doc_id, n_tokens, logw, keep) over a documents-schema
    parquet directory, scored against the frozen one-row ``lam``."""
    docs = fold.docs_stream(spark, docs_dir).withColumn(
        "toks", F.split(F.expr(_NORM_SPARK), " ")
    )
    return score_documents(docs, lam)


def start_scoring(
    spark: SparkSession,
    docs_dir: str,
    lam: DataFrame,
    out_dir: str,
    checkpoint: str,
) -> "object":
    """Drain ``docs_dir`` through the gate into an exactly-once parquet
    sink (the file sink + checkpoint pair survives restarts, so waves
    resume incrementally; ``availableNow`` drains then stops — drop it for
    continuous tailing)."""
    return (
        scored_stream(spark, docs_dir, lam)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
