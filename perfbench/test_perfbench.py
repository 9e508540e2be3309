"""Tests of the benchmark's helpers, and one smoke run of every workload
at sf 0.001.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import (TAIL_BEYOND, fingerprint, metric_value,  # noqa: E402
                   parse_plan_dot, self_time, tail)


def test_tail_keeps_ten_samples_beyond_the_highest_percentile():
    for n in range(2 * TAIL_BEYOND + 1, 400):
        xs = [float(i) for i in range(n)]
        random.Random(n).shuffle(xs)
        value, pct, got_n = tail(xs)
        assert got_n == n and 50 < pct < 100
        assert sum(x > value for x in xs) >= TAIL_BEYOND
        # one percentile higher leaves fewer than ten samples beyond
        assert n - math.ceil((pct + 1) * n / 100) < TAIL_BEYOND


def test_tail_falls_back_to_the_maximum_without_a_tail_above_the_median():
    for n in range(1, 2 * TAIL_BEYOND + 1):
        assert tail([float(i) for i in range(n)]) == (n - 1, 100, n)
    assert tail([float(i) for i in range(100)]) == (89.0, 90, 100)


def test_self_time():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (5.0, 6.0)]) == 5.0
    # children are clipped to the parent
    assert self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert self_time(0.0, 1.0, [(2.0, 3.0)]) == 1.0


def test_fingerprint_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [0.1, None, 0.3], "c": ["x", "y", None]})
    shuffled = df.sample(frac=1.0, random_state=1)[["c", "a", "b"]]
    assert fingerprint(df) == fingerprint(shuffled.reset_index(drop=True))


def test_fingerprint_sees_one_ulp_a_duplicate_row_and_a_renamed_column():
    df = pd.DataFrame({"a": [1, 2], "b": [0.1, 0.2]})
    base = fingerprint(df)
    bumped = df.assign(b=[0.1, np.nextafter(0.2, 1.0)])
    assert fingerprint(bumped) != base
    assert fingerprint(pd.concat([df, df.iloc[[0]]])) != base
    assert fingerprint(df.rename(columns={"b": "c"})) != base


def test_metric_value():
    assert metric_value("15,000") == 15000
    assert metric_value("62.7 KiB") == 62.7 * 1024
    assert metric_value("1.5 MiB") == 1.5 * 2 ** 20
    assert metric_value("385 ms") == pytest.approx(0.385)
    assert metric_value("1.9 s") == 1.9
    with pytest.raises(ValueError):
        metric_value("1 parsec")


_DOT = r'''digraph G {
  1 [id="node1" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="AdaptiveSparkPlan isFinalPlan=true"];
  subgraph cluster6 {
    isCluster="true";
    label="WholeStageCodegen (3)\n \nduration: 27 ms";
      7 [id="node7" labelType="html" label="<b>HashAggregate</b><br><br>spill size: 0.0 B<br>peak memory total (min, med, max (stageId: taskId))<br>16.5 MiB (8.2 MiB, 8.2 MiB, 8.2 MiB (stage 5.0: task 3))<br>number of output rows: 10<br>avg hash probes per key (min, med, max (stageId: taskId)):<br>(1, 1, 1 (stage 5.0: task 3))" tooltip="HashAggregate(keys=[lang#8])"];
  }
  13 [id="node13" labelType="html" label="<b>MapInArrow</b><br><br>data sent to Python workers: 157.1 KiB<br>number of output rows: 500" tooltip="MapInArrow f(\"x\")"];
  17 [id="node17" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 1<br>number of output rows: 1,500" tooltip="FileScan parquet [doc_id#0L] Location: InMemoryFileIndex(1 paths)[file:/d/documents.parquet], PartitionFilters: []"];
  7->1;
  13->7;
  17->13;
}'''


def test_parse_plan_dot():
    nodes, edges = parse_plan_dot(_DOT)
    assert {n: v["name"] for n, v in nodes.items()} == {
        1: "AdaptiveSparkPlan", 7: "HashAggregate", 13: "MapInArrow", 17: "Scan parquet"}
    assert nodes[7]["metrics"] == {"spill size": "0.0 B", "peak memory": "16.5 MiB",
                                   "number of output rows": "10"}
    assert metric_value(nodes[17]["metrics"]["number of output rows"]) == 1500
    assert nodes[13]["desc"] == 'MapInArrow f("x")'
    assert "documents.parquet" in nodes[17]["desc"]
    assert edges == [(7, 1), (13, 7), (17, 13)]


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload,trace", [
    ("sql_analytics", 0), ("sql_analytics", 1), ("asset_dags", 0), ("asset_dags", 1)])
def test_smoke_run_at_sf0_001(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, out.stdout
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["operators.tasks"] > 0
        # the build and exec spans account for an operation's latency:
        # what neither covers is under 2% of it
        assert 0 <= m["trace.op_self_s"] < 0.02 * m["trace.op_s"]
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
