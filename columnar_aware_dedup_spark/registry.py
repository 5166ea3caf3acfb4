"""Query registry: the single source of truth for ``__spark_entry__.py``.

Every operator module registers its runnable queries here with
:func:`register`. A query is a callable ``(spark, sf_dir) -> DataFrame``;
when an ANSI-SQL oracle string is supplied the driver hash-checks the Spark
result against DuckDB at sf0.01 (H check); without one the driver records a
weaker rows-only check (R) — reserve that for genuinely non-SQL-expressible
ops (float-ranked ANN, seeded MinHash, pandas-UDF chunkers).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add ``fn`` to the query registry under ``name``.

    ``oracle`` is the DuckDB-runnable ANSI SQL equivalent; alias every computed
    column identically on both sides (the driver sorts columns by name before
    hashing values).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def reorder(priority: list[str]) -> None:
    """Rebuild the registry dicts with ``priority`` names first, in order.

    The driver records CORRECTNESS rows for the first N registered queries in
    dict order, so registration order is part of the driver contract: the
    package passes :func:`driver_window` here at import; every other query
    stays registered — and covered by ``tests/test_registry_oracles.py`` —
    behind it.
    """
    chosen = set(priority)
    rest = [n for n in QUERIES if n not in chosen]
    for order in (priority, rest):
        for n in order:
            QUERIES[n] = QUERIES.pop(n)
            if n in ORACLES:
                ORACLES[n] = ORACLES.pop(n)


def archive_state(root: str | Path) -> tuple[dict[str, int], int]:
    """(newest driver round per checked query, newest archive round).

    Reads the driver's ``CORRECTNESS_r{N}.json`` archives under ``root``;
    with none present both are empty (``({}, 0)``).
    """
    latest: dict[str, int] = {}
    newest = 0
    for path in sorted(Path(root).glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.split("_r")[1])
        newest = max(newest, rnd)
        for q in json.loads(path.read_text()):
            latest[q] = max(latest.get(q, 0), rnd)
    return latest, newest


def driver_window(
    names: Iterable[str],
    latest: dict[str, int],
    changed: dict[str, int],
    n: int = 50,
) -> list[str]:
    """The ``n`` queries the next driver run should check, in seat order.

    1. queries with no driver row (new registrations);
    2. queries in ``changed`` whose newest driver row is at or before their
       entry — the archived hash predates the code that ships, and the
       entry expires by itself once the driver re-checks the query;
    3. the rest.

    Within a group the stalest newest row goes first; ties break on name.
    Pure: no Spark, no I/O. Each round seats the
    stalest queries, so a query waits about ``ceil(len(names) / n)`` rounds
    between driver checks, one more when a round's ``changed`` seats push
    the stale fill back.
    """

    def seat(q: str) -> tuple[int, int, str]:
        last = latest.get(q)
        if last is None:
            return (0, 0, q)
        if last <= changed.get(q, -1):
            return (1, last, q)
        return (2, last, q)

    return sorted(names, key=seat)[:n]
