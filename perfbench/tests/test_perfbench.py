"""Spark-free tests of the benchmark's pure parts.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

# --- the percentile rule ---------------------------------------------------


@pytest.mark.parametrize(
    "n, q", [(1, 0.5), (15, 0.5), (20, 0.5), (25, 0.6), (50, 0.8),
             (100, 0.9), (1000, 0.9)],
)
def test_tail_quantile_values(n, q):
    assert stats.tail_quantile(n) == q


def test_tail_quantile_keeps_ten_samples_beyond():
    for n in range(1, 400):
        q = stats.tail_quantile(n)
        assert 0.5 <= q <= 0.9
        if q > 0.5:
            assert n * (1 - q) >= stats.TAIL_SAMPLES - 1e-9
            # and it is the highest whole percent that does
            assert q == 0.9 or n * (1 - (q + 0.01)) < stats.TAIL_SAMPLES


def test_percentile_interpolates():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.9) == pytest.approx(4.6)
    assert stats.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


# --- driver time = wall minus the union of job intervals ----------------------


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert stats.union_length([(2, 3), (0, 10)]) == 10.0
    assert stats.union_length([(1, 1), (2, 1)]) == 0.0


def test_driver_time_subtracts_union_of_clipped_jobs():
    window = (0.0, 10.0)
    jobs = [(1, 3), (2, 4), (6, 7), (9, 12), (-5, -1), (20, 30)]
    # covered inside the window: [1,4] + [6,7] + [9,10] = 5
    assert stats.driver_time(window, jobs) == pytest.approx(5.0)
    assert stats.driver_time(window, []) == 10.0
    assert stats.driver_time(window, [(-1, 11)]) == 0.0


# --- seed -> query order -------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_pass_order_is_a_seeded_permutation(workload):
    a = pass_order(workload, 7, 1)
    assert sorted(a) == sorted(WORKLOADS[workload])
    assert a == pass_order(workload, 7, 1)
    orders = {tuple(pass_order(workload, seed, 1)) for seed in range(40)}
    if len(WORKLOADS[workload]) > 1:
        assert len(orders) > 1


def test_pass_order_varies_across_passes_of_one_run():
    orders = {tuple(pass_order("structural_dedup", 3, i)) for i in range(10)}
    assert len(orders) > 1


# --- SQL metrics -> layers -----------------------------------------------------

DOT = '''digraph G {
  0 [id="node0" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="AdaptiveSparkPlan isFinalPlan=true"];
  4 [id="node4" labelType="html" label="<b>AQEShuffleRead</b><br><br>number of partitions: 1<br>partition data size: 44.0 KiB" tooltip="AQEShuffleRead coalesced"];
  5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>shuffle records written: 499<br>shuffle write time total (min, med, max (stageId: taskId))<br>25 ms (3 ms, 7 ms, 9 ms (stage 21.0: task 23))<br>fetch wait time: 2 ms<br>shuffle bytes written total (min, med, max (stageId: taskId))<br>41.7 KiB (9.8 KiB, 10.5 KiB, 11.5 KiB (stage 21.0: task 26))" tooltip="Exchange hashpartitioning(tsig#201, 4)"];
  subgraph cluster7 {
    label="WholeStageCodegen (1)\\n \\nduration: total (min, med, max (stageId: taskId))\\n479 ms (56 ms, 144 ms, 172 ms (stage 21.0: task 23))";
      8 [id="node8" labelType="html" label="<b>Sort</b><br><br>peak memory total (min, med, max (stageId: taskId))<br>64.2 MiB (16.1 MiB, 16.1 MiB, 16.1 MiB (stage 21.0: task 24))<br>spill size total (min, med, max (stageId: taskId))<br>1.0 KiB (0.0 B, 0.0 B, 1.0 KiB (stage 21.0: task 24))" tooltip="Sort [tsig#201 ASC NULLS FIRST]"];
      9 [id="node9" labelType="html" label="<b>HashAggregate</b><br><br>peak memory: 2.0 MiB<br>number of output rows: 1,202" tooltip="HashAggregate"];
  }
  10 [id="node10" labelType="html" label="<b>MapInPandas</b><br><br>time to run Python workers total (min, med, max (stageId: taskId))<br>5.0 s (1.6 s, 1.7 s, 1.7 s (stage 0.0: task 2))<br>time to start Python workers: 928 ms<br>time to initialize Python workers: 72 ms<br>data sent to Python workers: 3.8 MiB<br>data returned from Python workers: 186.6 KiB" tooltip="MapInPandas"];
  11 [id="node11" labelType="html" label="<b>Scan binaryFile </b><br><br>number of files read: 3<br>size of files read: 3.8 MiB<br>scan time: 1.5 s" tooltip="FileScan binaryFile"];
  12 [id="node12" labelType="html" label="<b>Filter</b><br><br>number of files read: 99<br>number of output rows: 1,988" tooltip="Filter"];
}'''


def test_parse_metric_value_units():
    assert stats.parse_metric_value("1,202") == 1202
    assert stats.parse_metric_value("0.0 B") == 0
    assert stats.parse_metric_value("17.8 KiB") == pytest.approx(17.8 * 1024)
    assert stats.parse_metric_value("2.2 s") == pytest.approx(2200)
    assert stats.parse_metric_value("25 ms (3 ms, 7 ms)") == 25
    assert stats.parse_metric_value("1.5 m") == pytest.approx(90_000)
    with pytest.raises(ValueError):
        stats.parse_metric_value("n/a")


def test_parse_plan_dot_reads_nodes_and_totals():
    nodes = dict(stats.parse_plan_dot(DOT))
    assert set(nodes) == {
        "AdaptiveSparkPlan", "AQEShuffleRead", "Exchange", "Sort",
        "HashAggregate", "MapInPandas", "Scan binaryFile ", "Filter",
    }
    assert nodes["AdaptiveSparkPlan"] == {}
    assert nodes["Exchange"]["shuffle bytes written"] == pytest.approx(41.7 * 1024)
    assert nodes["Exchange"]["shuffle write time"] == 25
    assert nodes["Exchange"]["shuffle records written"] == 499


def test_rollup_maps_nodes_to_layers():
    layers = stats.rollup(stats.parse_plan_dot(DOT))
    assert set(layers) == set(stats.LAYER_METRICS)
    assert layers["shuffle.bytes_written"] == pytest.approx(41.7 * 1024)
    assert layers["shuffle.write_ms"] == 25
    assert layers["shuffle.fetch_wait_ms"] == 2
    assert layers["python.run_ms"] == 5000
    assert layers["python.start_ms"] == 928 + 72
    assert layers["python.bytes_sent"] == pytest.approx(3.8 * 2**20)
    assert layers["python.bytes_returned"] == pytest.approx(186.6 * 1024)
    # only scan nodes count as scans (the Filter's look-alike metric does not)
    assert layers["scan.files"] == 3
    assert layers["scan.bytes"] == pytest.approx(3.8 * 2**20)
    assert layers["scan.time_ms"] == 1500
    # spill from any node; peak memory from aggregates only (not the Sort)
    assert layers["spill.bytes"] == 1024
    assert layers["agg.peak_memory_bytes"] == 2 * 2**20
