#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named registry queries.

Usage::

    python tools/explain_dump.py TAG QUERY [QUERY ...]

writes ``plans/r<N>/<query>_<TAG>.txt`` for each query, built at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1). ``N`` is the round the dumps
are evidence for: the newest committed ``CORRECTNESS_r*.json`` archive's
round + 1 (``registry.archive_state``), so a change's dumps never land
among an earlier round's. TAG is ``before`` / ``after`` — the plan
evidence a change's claims are checked against.

Note: queries with build-side effects (the streaming parity certificates
fold their index tables while the DataFrame is being CONSTRUCTED) run
those folds here; the dumped plan is the returned serve query's.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from columnar_aware_dedup_spark.plans.explain import plan_string  # noqa: E402
from columnar_aware_dedup_spark.registry import archive_state  # noqa: E402
from columnar_aware_dedup_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    spark = get_spark("cawd-explain")
    spark.sparkContext.setLogLevel("ERROR")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _, newest = archive_state(here)
    outdir = os.path.join(here, "plans", f"r{newest + 1}")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan_string(df, "formatted"))
        print("wrote", path, flush=True)


if __name__ == "__main__":
    main()
