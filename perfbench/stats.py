"""Pure helpers of the benchmark: percentiles, job-interval arithmetic and
the roll-up of Spark SQL metrics into layers. Nothing here touches Spark, so
``tests/test_perfbench.py`` covers it without a session."""

from __future__ import annotations

import html
import math
import re

#: a reported percentile needs at least this many samples above it.
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int, target: float = 0.90) -> float:
    """The highest percentile up to ``target`` that ``n`` samples support,
    i.e. with at least :data:`TAIL_SAMPLES` samples beyond it, in whole
    percent. Never below the median: with fewer than ``2 * TAIL_SAMPLES``
    samples the tail slot reports p50."""
    if n <= 0:
        raise ValueError("no samples")
    supported = math.floor(100 * (1 - TAIL_SAMPLES / n) + 1e-9) / 100
    return max(0.5, min(target, supported))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_time(
    window: tuple[float, float], jobs: list[tuple[float, float]]
) -> float:
    """Wall time of ``window`` not covered by any job interval: the time the
    driver spent outside Spark jobs (planning, py4j, catalog, Python)."""
    ws, we = window
    clipped = [(max(s, ws), min(e, we)) for s, e in jobs]
    return (we - ws) - union_length(clipped)


# --- SQL metrics -----------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric_value(text: str) -> float:
    """A metric as Spark formats it -> a number in base units (bytes,
    milliseconds, or a plain count). Multi-task metrics render as
    ``total (min, med, max ...)`` then the values; the total comes first."""
    m = _VALUE.match(text)
    if not m:
        raise ValueError(f"unparsable metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)"(?: tooltip=|\];)')
_TOTAL_HEADER = " total (min, med, max"


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """Nodes of a plan graph rendered by ``SparkPlanGraph.makeDotFile``:
    ``[(node name, {metric name: value in base units}), ...]``."""
    nodes = []
    for m in _NODE.finditer(dot):
        name = html.unescape(m.group(1))
        lines = [html.unescape(x) for x in m.group(2).split("<br>") if x]
        metrics: dict[str, float] = {}
        i = 0
        while i < len(lines):
            line = lines[i]
            if _TOTAL_HEADER in line and i + 1 < len(lines):
                metrics[line.split(_TOTAL_HEADER)[0]] = parse_metric_value(
                    lines[i + 1]
                )
                i += 2
                continue
            key, sep, val = line.rpartition(": ")
            if sep:
                try:
                    metrics[key] = parse_metric_value(val)
                except ValueError:
                    pass
            i += 1
        nodes.append((name, metrics))
    return nodes


def _is_scan(node: str) -> bool:
    return node.startswith("Scan ") or node.startswith("BatchScan ")


def _is_agg(node: str) -> bool:
    return node.endswith("Aggregate")


#: (node predicate, Spark metric name) -> layer metric. The Python-worker
#: metrics exist on every Python-evaluating node (MapInPandas,
#: ArrowEvalPython, FlatMapGroupsInPandas, ...), so they match by name.
ROLLUP: list[tuple[object, str, str]] = [
    (_is_scan, "size of files read", "scan.bytes"),
    (_is_scan, "number of files read", "scan.files"),
    (_is_scan, "scan time", "scan.time_ms"),
    (None, "time to run Python workers", "python.run_ms"),
    (None, "time to start Python workers", "python.start_ms"),
    (None, "time to initialize Python workers", "python.start_ms"),
    (None, "data sent to Python workers", "python.bytes_sent"),
    (None, "data returned from Python workers", "python.bytes_returned"),
    (None, "shuffle bytes written", "shuffle.bytes_written"),
    (None, "shuffle write time", "shuffle.write_ms"),
    (None, "fetch wait time", "shuffle.fetch_wait_ms"),
    (None, "spill size", "spill.bytes"),
    (_is_agg, "peak memory", "agg.peak_memory_bytes"),
]

LAYER_METRICS = sorted({key for _, _, key in ROLLUP})


def rollup(nodes: list[tuple[str, dict[str, float]]]) -> dict[str, float]:
    """Sum node metrics into layer metrics (every key of
    :data:`LAYER_METRICS` present, zero when no node contributes)."""
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    for name, metrics in nodes:
        for pred, metric, key in ROLLUP:
            if metric in metrics and (pred is None or pred(name)):
                out[key] += metrics[metric]
    return out
