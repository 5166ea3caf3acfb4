#!/usr/bin/env python3
"""CAWD-Spark benchmark: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload structural_dedup --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout. The run pins its environment (cores, heap,
its own local/warehouse/temp directories under ``perfbench/.work``), makes
its input tables with ``datagen``, starts the engine's session, runs one
warm-up pass that checks every output against its DuckDB oracle, then timed
passes for ``--seconds``. ``--trace 1`` alternates traced and untraced passes
and reports the layer split instead of the end-to-end metrics.

Stdout ends with two lines: a ``{"perfbench": {...}}`` object with the run's
settings and details, then the result object
``{"correct", "attempted", "failed", "metrics"}``. See ``README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: driver heap for every run: fits a small host, and both sides of an A/B
#: run the same heap (the engine pre-touches it, so RSS starts at this size).
DRIVER_MEMORY = "2g"
#: input scale: overhead-bound like the bench at sf0.1, but small enough
#: that a run (JVM start, warm-up, timed passes) takes well under a minute.
SF = 0.01
DATA_SEED = 42
#: a process whose command line carries this holds the shared Derby home
#: that ``session.get_spark`` configures: an engine session is running.
SHARED_DERBY = b"derby.system.home=/tmp/cawd-derby"
PROGRAM_FILES = (
    "__spark_entry__.py", "bench.py", "tests/oracle.py",
    "columnar_aware_dedup_spark/session.py",
)

END_TO_END_UNITS = {
    "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from harness import KERNELS, MERGE_FUNCTIONS

    units = {"session.start_s": "s", "session.warmup_s": "s",
             "construct_s": "s", "construct.jobs": "count", "driver_s": "s",
             "execute_s": "s", "execute.jobs": "count"}
    for k in ("spark.jobs", "spark.stages", "spark.tasks",
              "spark.sql_executions"):
        units[k] = "count"
    for k in stats.LAYER_METRICS:
        units[k] = ("ms" if k.endswith("_ms") else
                    "count" if k == "scan.files" else "B")
    for metric, *_ in KERNELS:
        units[f"kernel.{metric}.mb_s"] = "MB/s"
    units.update({"merge.calls": "count", "merge_s": "s",
                  "merge.jobs_per_call": "count",
                  "merge.rows_appended": "count", "merge.append_ratio": "ratio"})
    for _, fname in MERGE_FUNCTIONS:
        units[f"merge.{fname}.s"] = "s"
        units[f"merge.{fname}.jobs"] = "count"
    for k in ("calib.jvm_s", "calib.python_worker_s", "calib.parquet_scan_s",
              "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s"):
        units[k] = "s"
    return units


def pin_environment(work: str) -> dict[str, str]:
    """Fix cores and heap, give this run its own cleared local, warehouse
    and JVM temp directories, and make the Python workers import the engine.

    Python's temp directory is the checkout's fixture cache instead: the
    engine builds its ORC / parquet snapshot fixtures there once
    (``sources/orcfixtures.py``), so they are inputs, like the tables, and
    not part of every run's set-up."""
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "CAWD_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "CAWD_WAREHOUSE": dirs["warehouse"],
    }
    os.environ.update(settings)
    os.environ["TMPDIR"] = os.path.join(work, "fixtures")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return settings


def engine_sessions() -> list[int]:
    """Pids of running processes that hold the shared Derby home."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                if SHARED_DERBY in f.read():
                    pids.append(int(entry))
        except OSError:
            continue
    return pids


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for c in tree.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap(pids: list[int], timeout: float = 10.0) -> None:
    """Kill processes left behind by the session and wait until they are
    gone (they are not all our children, so poll ``/proc``)."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} did not exit")
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Samples the memory of this process and all its descendants (the
    driver JVM and the Python workers) every 0.2 s; keeps the maximum.

    Each process counts its proportional set size (PSS): a page shared by
    several processes (forked Python workers, a JVM mid-fork) is split
    between them instead of counted once per process, so a short-lived fork
    cannot double the reading."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = 0
        for pid in [me, *descendants(me)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def ensure_data(work: str) -> str:
    """The input tables, generated once per checkout (deterministic); a
    regeneration also drops the fixtures built from the old tables."""
    sf_dir = os.path.join(work, "data", f"sf{SF}")
    stamp = os.path.join(sf_dir, "_COMPLETE")
    want = f"sf={SF} seed={DATA_SEED}\n"
    if not os.path.exists(stamp) or Path(stamp).read_text() != want:
        shutil.rmtree(sf_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(work, "fixtures"), ignore_errors=True)
        os.makedirs(os.path.join(work, "fixtures"))
        datagen.write(sf_dir, SF, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(want)
    return sf_dir


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(h, sampler: RssSampler) -> tuple[dict, dict]:
    """The end-to-end metrics from the untraced passes, plus details."""
    passes = [p for p in h.passes if not p.traced]
    samples = [q.wall_s for p in passes for q in p.queries]
    tail = stats.tail_quantile(len(samples))
    metrics = {
        "pass_s": statistics.median([p.wall_s for p in passes]),
        "query_p50_s": stats.percentile(samples, 0.5),
        "query_p90_s": stats.percentile(samples, tail),
        "setup_s": h.start_s + h.warmup_s,
        "peak_rss_mb": sampler.peak_bytes / 2**20,
    }
    details = {
        "query_tail_percentile": round(100 * tail),
        "query_samples": len(samples),
        "error_rate": len(h.failures) / h.attempted,
    }
    if "dedup_hit_miss" in h.wire:
        details["wire_bytes_ratio"] = h.wire["dedup_hit_miss"]
    if "streaming_store_parity" in h.wire:
        details["served_wire_bytes_ratio"] = h.wire["streaming_store_parity"]
    return metrics, details


def traced_metrics(h, per_pass: list[dict], calib: dict, kernels: dict) -> dict:
    units = per_layer_units()
    metrics = dict.fromkeys(units, 0.0)
    for key in per_pass[0]:
        if key in metrics:
            metrics[key] = statistics.median([row[key] for row in per_pass])
    # passes still speed up through a run, so each traced pass is compared
    # with the mean of the untraced passes on either side of it
    wall = {p.index: p.wall_s for p in h.passes if not p.traced}
    bracket = [
        statistics.median([wall[i] for i in (p.index - 1, p.index + 1) if i in wall])
        for p in h.passes if p.traced
    ]
    metrics["session.start_s"] = h.start_s
    metrics["session.warmup_s"] = h.warmup_s
    metrics["trace.pass_s"] = statistics.median([row["pass_s"] for row in per_pass])
    metrics["trace.untraced_pass_s"] = statistics.median(bracket)
    metrics["trace.overhead_s"] = (
        metrics["trace.pass_s"] - metrics["trace.untraced_pass_s"]
    )
    metrics.update(kernels)
    for k in ("jvm", "python_worker", "parquet_scan"):
        metrics[f"calib.{k}_s"] = calib[k]
    return {k: metrics[k] for k in units}


def print_merge_table(rows: list[dict]) -> None:
    print("actions per merge (traced passes):")
    print(f"  {'pass':>4} {'query':<24} {'function':<18} {'s':>7} {'jobs':>5}"
          f" {'appended':>9} {'offered':>8}")
    for r in rows:
        print(f"  {r['pass']:>4} {r['query']:<24} {r['function']:<18}"
              f" {r['seconds']:>7.3f} {r['jobs']:>5} {str(r['rows_appended']):>9}"
              f" {str(r['rows_offered']):>8}")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a CAWD-Spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work")
    deadline = time.monotonic() + 30
    while engine_sessions():
        if time.monotonic() > deadline:
            print("perfbench: another engine session holds the shared Derby "
                  f"home (pids {engine_sessions()}); refusing to start",
                  file=sys.stderr)
            return 3
        time.sleep(1)
    sf_dir = ensure_data(work)
    settings = pin_environment(work)

    from harness import Harness, merge_table

    sampler = RssSampler()
    sampler.start()
    h = Harness(args.workload, args.seed, args.seconds, bool(args.trace), sf_dir)
    details: dict = {"workload": args.workload, "seed": args.seed,
                     "trace": args.trace, "sf": SF, "settings": settings}
    try:
        h.start_session()
        h.warmup_and_check()
        if args.trace:
            calib = h.calibrate()
            kernels = (h.kernel_throughput()
                       if args.workload == "structural_dedup" else {})
            patched = h.patch_merges()
            try:
                h.timed_passes()
            finally:
                h.unpatch(patched)
            trace = h.collect_trace()
        else:
            h.timed_passes()
    finally:
        h.stop()
        sampler.stop()
        reap(descendants(os.getpid()))
        shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)

    e2e, e2e_details = end_to_end(h, sampler)
    details.update(e2e_details)
    details["passes"] = [
        {"index": p.index, "traced": p.traced, "pass_s": p.wall_s} for p in h.passes
    ]
    details["warmup_s_by_query"] = h.warmup_by_query
    details["query_s"] = {
        name: statistics.median([q.wall_s for p in h.passes for q in p.queries
                            if q.name == name])
        for name in WORKLOADS[args.workload]
    }
    details["failures"] = h.failures[:10]
    if args.trace:
        metrics = traced_metrics(h, trace, calib, kernels)
        units = per_layer_units()
        details["end_to_end"] = e2e
        details["calib"] = calib
        details["spark.stages_by_pass"] = [r["spark.stages"] for r in trace]
        details["spark.tasks_by_pass"] = [r["spark.tasks"] for r in trace]
        details["merge_table"] = merge_table(h.merge_calls)
        print_merge_table(details["merge_table"])
    else:
        metrics = e2e
        units = END_TO_END_UNITS
    print(json.dumps({"perfbench": details}))
    print(json.dumps({
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
