"""CAWD-Spark: a PySpark-native engine with the query/data-processing
capabilities of castuardo/columnar-aware-dedup, re-designed Spark-first.

Importing this package populates the query registry (``registry.QUERIES`` /
``registry.ORACLES``) that ``__spark_entry__.py`` exposes to the driver.
"""

from __future__ import annotations

from pathlib import Path

from columnar_aware_dedup_spark import registry  # noqa: F401
from columnar_aware_dedup_spark.operators import dedup  # noqa: F401
from columnar_aware_dedup_spark.operators import events  # noqa: F401
from columnar_aware_dedup_spark.operators import relational  # noqa: F401
from columnar_aware_dedup_spark.operators import relational_ext  # noqa: F401
from columnar_aware_dedup_spark.operators import relational_fns  # noqa: F401
from columnar_aware_dedup_spark.operators import macro  # noqa: F401
from columnar_aware_dedup_spark.operators import macro2  # noqa: F401
from columnar_aware_dedup_spark.operators import scale  # noqa: F401
from columnar_aware_dedup_spark.operators import udf  # noqa: F401
from columnar_aware_dedup_spark.operators import similarity  # noqa: F401
from columnar_aware_dedup_spark.operators import stats  # noqa: F401
from columnar_aware_dedup_spark.operators import taxonomy  # noqa: F401
from columnar_aware_dedup_spark.operators import multimodal  # noqa: F401
from columnar_aware_dedup_spark.operators import search  # noqa: F401
from columnar_aware_dedup_spark.operators import selection  # noqa: F401
from columnar_aware_dedup_spark.operators import bpe  # noqa: F401
from columnar_aware_dedup_spark.operators import text  # noqa: F401
from columnar_aware_dedup_spark.operators import clustering  # noqa: F401
from columnar_aware_dedup_spark.operators import kmeans  # noqa: F401
from columnar_aware_dedup_spark.operators import pq  # noqa: F401
from columnar_aware_dedup_spark.operators import sq  # noqa: F401
from columnar_aware_dedup_spark.operators import phash  # noqa: F401
from columnar_aware_dedup_spark.operators import audiofp  # noqa: F401
from columnar_aware_dedup_spark.operators import pca  # noqa: F401
from columnar_aware_dedup_spark.operators import retrieval  # noqa: F401
from columnar_aware_dedup_spark.operators import streaming_parity  # noqa: F401
from columnar_aware_dedup_spark.operators import zonemap  # noqa: F401
from columnar_aware_dedup_spark.operators import drift  # noqa: F401
from columnar_aware_dedup_spark.operators import curation  # noqa: F401
from columnar_aware_dedup_spark.operators import winnowing  # noqa: F401
from columnar_aware_dedup_spark.sources import binaryfile  # noqa: F401
from columnar_aware_dedup_spark.sources import cdc  # noqa: F401
from columnar_aware_dedup_spark.sources import chunkers  # noqa: F401
from columnar_aware_dedup_spark.sources import crossformat  # noqa: F401
from columnar_aware_dedup_spark.sources import orcfixtures  # noqa: F401
from columnar_aware_dedup_spark.sources import jsonl  # noqa: F401
from columnar_aware_dedup_spark.sources import parquetcensus  # noqa: F401


#: queries whose code or output contract changed after their newest driver
#: row, mapped to the newest archive round the change postdates. Each one
#: seats in the next driver window until the driver checks it again (see
#: registry.driver_window); an entry then expires by itself.
CHANGED: dict[str, int] = {
    # r12: the LSH bucket fold and fused-scan checkpoint rewrites.
    "ann_lsh_topk": 12,
    "ann_recall_report": 12,
    "embedding_near_dup_pairs": 12,
    "lsh_parameter_sweep": 12,
    # the store and streaming merges moved onto streaming/fold.py
    # (init_tables / append_new) and store.bucket_aligned.
    "streaming_bm25_parity": 12,
    "streaming_cluster_parity": 12,
    "streaming_ivf_parity": 12,
    "streaming_lsh_parity": 12,
    "streaming_pq_parity": 12,
    "streaming_rrf_parity": 12,
    "streaming_sketch_parity": 12,
    "streaming_spans_parity": 12,
    "streaming_statsprune_columns_parity": 12,
    "streaming_statsprune_parity": 12,
    "streaming_statsprune_parquet_parity": 12,
    "streaming_store_parity": 12,
    "streaming_winnow_parity": 12,
    # the BM25 genesis write goes through store.bucket_aligned.
    "passage_rrf_from_index": 12,
}

#: the driver's CORRECTNESS window is the first 50 registered queries,
#: computed from the committed CORRECTNESS_r*.json archives.
registry.reorder(
    registry.driver_window(
        list(registry.QUERIES),
        registry.archive_state(Path(__file__).resolve().parent.parent)[0],
        CHANGED,
    )
)

__all__ = ["registry"]
