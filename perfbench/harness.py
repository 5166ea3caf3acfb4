"""Spark side of the benchmark: start the engine's session, run the
warm-up pass that also checks every output against its DuckDB oracle, run the
timed passes, and (traced runs only) split each pass into layers.

Everything is measured from outside the engine: by timing calls into its
public functions, by wrapping the store/index merge functions where their
callers look them up, and by reading Spark's own status stores after the
passes. Nothing in the engine is modified.
"""

from __future__ import annotations

import bisect
import functools
import glob
import importlib
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import stats
from workloads import WIRE_ROLLUP_QUERIES, pass_order

#: the write path of the store and the streaming index maintainers:
#: (module, function). Every caller reaches these through the module
#: attribute, so replacing the attribute traces every call.
MERGE_FUNCTIONS = [
    ("columnar_aware_dedup_spark.sources.store", "create_store"),
    ("columnar_aware_dedup_spark.sources.store", "merge_into_store"),
    ("columnar_aware_dedup_spark.streaming.lsh", "merge_bands"),
    ("columnar_aware_dedup_spark.streaming.spans", "merge_spans"),
    ("columnar_aware_dedup_spark.streaming.sketches", "merge_sketches"),
    ("columnar_aware_dedup_spark.streaming.bm25", "merge_bm25_delta"),
    ("columnar_aware_dedup_spark.streaming.winnow", "merge_winnow_delta"),
]

#: the byte kernels behind the structural chunkers, timed in-process on the
#: workload's own ORC / parquet fixture files: (metric, module, function,
#: file extension).
KERNELS = [
    ("chunk_orc_bytes", "columnar_aware_dedup_spark.sources.chunkers",
     "chunk_orc_bytes", "orc"),
    ("chunk_parquet_bytes", "columnar_aware_dedup_spark.sources.chunkers",
     "chunk_parquet_bytes", "parquet"),
    ("chunk_cdc_bytes", "columnar_aware_dedup_spark.sources.cdc",
     "chunk_cdc_bytes", "orc"),
    ("read_orc_structure", "columnar_aware_dedup_spark.functions.orcmeta",
     "read_orc_structure", "orc"),
]


@dataclass
class QueryRun:
    pass_index: int
    name: str
    traced: bool
    start: float = 0.0  # epoch seconds
    built: float = 0.0  # fn(spark, sf) returned
    end: float = 0.0  # the noop write returned
    error: str | None = None

    @property
    def construct_s(self) -> float:
        return self.built - self.start

    @property
    def execute_s(self) -> float:
        return self.end - self.built

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def group(self, phase: str) -> str:
        return f"perfbench:{self.pass_index}:{self.name}:{phase}"


@dataclass
class MergeCall:
    pass_index: int
    query: str
    group: str  # the query's construction job group
    function: str
    start: float
    end: float
    appended: int | None
    delta: object  # the offered DataFrame; counted after the passes
    jobs: int = 0
    offered: int | None = None


@dataclass
class Pass:
    index: int
    traced: bool
    wall_s: float = 0.0
    queries: list[QueryRun] = field(default_factory=list)


class _Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


class Harness:
    def __init__(
        self, workload: str, seed: int, seconds: float, trace: bool,
        sf_dir: str,
    ) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.spark = None
        self.queries: dict = {}
        self.oracles: dict[str, str] = {}
        self.start_s = 0.0
        self.warmup_s = 0.0
        self.warmup_by_query: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.wire: dict[str, float] = {}
        self.passes: list[Pass] = []
        self.merge_calls: list[MergeCall] = []
        self._current: QueryRun | None = None

    # --- session and warm-up ------------------------------------------------

    def start_session(self) -> None:
        """Import the engine and start its session (``session.get_spark``)."""
        t0 = time.perf_counter()
        import __spark_entry__ as entry
        from columnar_aware_dedup_spark.session import get_spark

        self.spark = get_spark("cawd-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.start_s = time.perf_counter() - t0

    def warmup_and_check(self) -> None:
        """One untimed pass: build and collect every query (the JIT and
        fixture warm-up, timed as ``warmup_s``), then compare each result
        with its DuckDB oracle (not timed)."""
        from tests.oracle import compare

        for name in pass_order(self.workload, self.seed, 0):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                rows = df.collect()
                columns = df.columns
            except Exception as exc:  # noqa: BLE001 - any failure is counted
                self._fail(f"check {name}", exc)
                continue
            finally:
                self.warmup_by_query[name] = time.perf_counter() - t0
                self.warmup_s += self.warmup_by_query[name]
            try:
                if name in self.oracles:
                    compare(_Collected(columns, rows), self.oracles[name], self.sf_dir)
                elif not rows:
                    raise AssertionError("no rows")
                if name in WIRE_ROLLUP_QUERIES:
                    self.wire[name] = _wire_ratio(rows)
            except Exception as exc:  # noqa: BLE001
                self._fail(f"check {name}", exc)

    def _fail(self, where: str, exc: Exception) -> str:
        """Count a failed query; its traceback goes to stderr."""
        traceback.print_exception(exc, file=sys.stderr)
        message = f"{type(exc).__name__}: {exc}"
        self.failures.append(f"{where}: {message}")
        return message

    # --- timed passes ---------------------------------------------------------

    def timed_passes(self) -> None:
        """Run passes until ``seconds`` have elapsed (at least two). A traced
        run alternates untraced and traced passes, at least three, so every
        traced pass has an untraced pass on either side to compare with."""
        t0 = time.perf_counter()
        least = 3 if self.trace else 2
        index = 1
        while len(self.passes) < least or time.perf_counter() - t0 < self.seconds:
            traced = self.trace and index % 2 == 0
            self.passes.append(self._run_pass(index, traced))
            index += 1

    def _run_pass(self, index: int, traced: bool) -> Pass:
        p = Pass(index, traced)
        sc = self.spark.sparkContext
        t0 = time.time()
        for name in pass_order(self.workload, self.seed, index):
            q = QueryRun(index, name, traced)
            self._current = q
            self.attempted += 1
            q.start = time.time()
            try:
                if traced:
                    sc.setJobGroup(q.group("c"), name)
                df = self.queries[name](self.spark, self.sf_dir)
                q.built = time.time()
                if traced:
                    sc.setJobGroup(q.group("e"), name)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                q.error = self._fail(f"pass {index} {name}", exc)
            q.end = time.time()
            q.built = q.built or q.end
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            p.queries.append(q)
        p.wall_s = time.time() - t0
        self._current = None
        return p

    # --- tracing --------------------------------------------------------------

    def patch_merges(self) -> list:
        """Wrap every merge function; returns what :meth:`unpatch` restores."""
        patched = []
        for modname, fname in MERGE_FUNCTIONS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, fname)
            setattr(mod, fname, self._traced_merge(fname, orig))
            patched.append((mod, fname, orig))
        return patched

    @staticmethod
    def unpatch(patched: list) -> None:
        for mod, fname, orig in patched:
            setattr(mod, fname, orig)

    def _traced_merge(self, fname: str, orig):
        @functools.wraps(orig)
        def traced(spark, delta, *args, **kwargs):
            q = self._current
            if q is None or not q.traced:
                return orig(spark, delta, *args, **kwargs)
            start = time.time()
            result = orig(spark, delta, *args, **kwargs)
            appended = (
                int(result)
                if isinstance(result, int) and not isinstance(result, bool)
                else None
            )
            self.merge_calls.append(
                MergeCall(q.pass_index, q.name, q.group("c"), fname, start,
                          time.time(), appended, delta)
            )
            return result

        return traced

    def calibrate(self) -> dict[str, float]:
        """The repo's three VM-drift probes (``bench._calibrate``)."""
        import bench

        return bench._calibrate(self.spark)

    def kernel_throughput(self) -> dict[str, float]:
        """MB/s of each byte kernel over the workload's fixture files (the
        files the warm-up pass built): median of three timed rounds, each
        repeating the whole file set for at least 0.2 s."""
        from columnar_aware_dedup_spark.sources import orcfixtures

        dirs = {
            "orc": orcfixtures.orc_fixture_dirs(self.sf_dir),
            "parquet": orcfixtures.parquet_fixture_dirs(self.sf_dir),
        }
        blobs = {}
        for ext, roots in dirs.items():
            paths = sorted(
                p for r in roots for p in glob.glob(f"{r}/**/*.{ext}", recursive=True)
            )
            blobs[ext] = [Path(p).read_bytes() for p in paths]
        out = {}
        for metric, modname, fname, ext in KERNELS:
            fn = getattr(importlib.import_module(modname), fname)
            data = blobs[ext]
            mb = sum(len(b) for b in data) / 1e6
            rates = []
            for _ in range(3):
                rounds, t0 = 0, time.perf_counter()
                while True:
                    for b in data:
                        fn(b)
                    rounds += 1
                    dt = time.perf_counter() - t0
                    if dt >= 0.2:
                        break
                rates.append(mb * rounds / dt)
            out[f"kernel.{metric}.mb_s"] = statistics.median(rates)
        return out

    def collect_trace(self) -> list[dict]:
        """Read the status stores once, after the passes: per traced pass,
        the construct/execute split, driver time, job/stage/task/SQL counts,
        the SQL-metric roll-up and the merge table."""
        spark = self.spark
        jsc = spark.sparkContext._jsc.sc()
        from py4j.protocol import Py4JError

        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # private API; fall back to a pause
            time.sleep(1.0)
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = spark.sparkContext.statusTracker()

        jobs = {}
        for j in conv.asJava(jsc.statusStore().jobsList(None)):
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            jobs[j.jobId()] = (
                sub.get().getTime() / 1000, comp.get().getTime() / 1000,
                j.numCompletedStages(), j.numCompletedTasks(),
            )

        traced = [q for p in self.passes if p.traced for q in p.queries]
        position = {id(q): i for i, q in enumerate(traced)}
        starts = [q.start for q in traced]
        per_query_sql: dict[int, dict[str, float]] = {}
        per_query_execs: dict[int, int] = {}
        sql_store = spark._jsparkSession.sharedState().statusStore()
        for e in conv.asJava(sql_store.executionsList()):
            sub = e.submissionTime() / 1000
            i = bisect.bisect_right(starts, sub) - 1
            if i < 0 or sub > traced[i].end:
                continue
            eid = e.executionId()
            dot = sql_store.planGraph(eid).makeDotFile(sql_store.executionMetrics(eid))
            layer = stats.rollup(stats.parse_plan_dot(dot))
            acc = per_query_sql.setdefault(i, dict.fromkeys(stats.LAYER_METRICS, 0.0))
            for k, v in layer.items():
                acc[k] += v
            per_query_execs[i] = per_query_execs.get(i, 0) + 1

        for call in self.merge_calls:
            ids = tracker.getJobIdsForGroup(call.group)
            call.jobs = sum(
                1 for jid in ids
                if jid in jobs and call.start <= jobs[jid][0] <= call.end
            )
        counted: dict[int, int] = {}
        for call in self.merge_calls:
            key = id(call.delta)
            if key not in counted:
                counted[key] = call.delta.count()
            call.offered = counted[key]

        per_pass = []
        for p in self.passes:
            if not p.traced:
                continue
            row = dict.fromkeys(stats.LAYER_METRICS, 0.0)
            row.update({
                "pass_s": p.wall_s, "construct_s": 0.0, "execute_s": 0.0,
                "driver_s": 0.0, "construct.jobs": 0, "execute.jobs": 0,
                "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
                "spark.sql_executions": 0,
            })
            for q in p.queries:
                i = position[id(q)]
                row["construct_s"] += q.construct_s
                row["execute_s"] += q.execute_s
                c_ids = [j for j in tracker.getJobIdsForGroup(q.group("c")) if j in jobs]
                e_ids = [j for j in tracker.getJobIdsForGroup(q.group("e")) if j in jobs]
                ids = c_ids + e_ids
                row["construct.jobs"] += len(c_ids)
                row["execute.jobs"] += len(e_ids)
                row["spark.jobs"] += len(ids)
                row["spark.stages"] += sum(jobs[j][2] for j in ids)
                row["spark.tasks"] += sum(jobs[j][3] for j in ids)
                row["driver_s"] += stats.driver_time(
                    (q.start, q.end), [jobs[j][:2] for j in ids]
                )
                row["spark.sql_executions"] += per_query_execs.get(i, 0)
                for k, v in per_query_sql.get(i, {}).items():
                    row[k] += v
            row.update(_merge_rollup(
                [c for c in self.merge_calls if c.pass_index == p.index]
            ))
            per_pass.append(row)
        return per_pass

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Py4JError:  # already closed
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def _wire_ratio(rows) -> float:
    """``transfer_bytes / (transfer_bytes + dedup_bytes)`` over a collected
    dedup rollup: the share of bytes that still crosses the wire."""
    transfer = sum(r["transfer_bytes"] for r in rows)
    dedup = sum(r["dedup_bytes"] for r in rows)
    if transfer + dedup <= 0:
        raise AssertionError("empty dedup rollup")
    return transfer / (transfer + dedup)


def _merge_rollup(calls: list[MergeCall]) -> dict[str, float]:
    """Per-pass merge metrics, in total and per function."""
    out: dict[str, float] = {}
    for _, fname in MERGE_FUNCTIONS:
        mine = [c for c in calls if c.function == fname]
        out[f"merge.{fname}.s"] = sum(c.end - c.start for c in mine)
        out[f"merge.{fname}.jobs"] = sum(c.jobs for c in mine)
    appended = [c for c in calls if c.appended is not None]
    offered = sum(c.offered or 0 for c in appended)
    out["merge.calls"] = len(calls)
    out["merge_s"] = sum(c.end - c.start for c in calls)
    out["merge.jobs_per_call"] = (
        sum(c.jobs for c in calls) / len(calls) if calls else 0.0
    )
    out["merge.rows_appended"] = sum(c.appended for c in appended)
    out["merge.append_ratio"] = (
        out["merge.rows_appended"] / offered if offered else 0.0
    )
    return out


def merge_table(calls: list[MergeCall]) -> list[dict]:
    """The actions-per-merge table: one row per traced merge call."""
    return [
        {
            "pass": c.pass_index, "query": c.query, "function": c.function,
            "seconds": c.end - c.start, "jobs": c.jobs,
            "rows_appended": c.appended, "rows_offered": c.offered,
        }
        for c in calls
    ]

