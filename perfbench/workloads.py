"""The benchmark's three workloads and the seeded query order of a pass.

Each workload is a fixed subset of the registered queries
(``__spark_entry__.queries()``) that stresses one layer of the engine; see
``README.md`` for why each query is in its set.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The paper's read path: structural chunkers, CDC, ORC metadata and the
    # signature probe. Execution-bound; the kernels and Python UDFs live here.
    "structural_dedup": (
        "dedup_hit_miss",
        "orc_file_chunks",
        "parquet_file_chunks",
        "cdc_dedup_report",
        "orc_stats_pruned_dedup",
    ),
    # The write path: two deltas plus a replay folded into the persisted
    # signature store, then served. Bound by per-action fixed cost during
    # construction. The other five streaming parities share its fold shape
    # but would push a run past a minute (README.md).
    "store_maintenance": ("streaming_store_parity",),
    # The shuffle/JVM path: checkpointed iterations, banded joins, ranking.
    "llm_curation": (
        "near_dup_clusters",
        "minhash_near_dup",
        "semantic_dedup",
        "bm25_doc_ranking",
        "substring_dedup_apply",
        "token_topk",
    ),
}

#: the queries whose collected output carries the dedup byte rollup
#: (``hits, misses, dedup_bytes, transfer_bytes`` per column).
WIRE_ROLLUP_QUERIES = ("dedup_hit_miss", "streaming_store_parity")


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The workload's queries in the order pass ``pass_index`` runs them.

    The same (workload, seed, pass) always gives the same order; different
    passes of one run get different orders so no query always runs first."""
    names = list(WORKLOADS[workload])
    random.Random(f"{workload}:{seed}:{pass_index}").shuffle(names)
    return names
