"""Tests of the benchmark runner's own arithmetic, plus a toy-size smoke
run of every workload.

    python3 -m pytest perfbench -q

The Spark tests (a toy traced run and the smoke runs) boot Spark in
child processes, about a minute each; set PERFBENCH_SKIP_SMOKE=1 to run
only the arithmetic tests.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

import compare
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ---------- percentile with at least ten samples beyond ----------

def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(range(19)) is None
    assert stats.tail_percentile(range(20)) == (50.0, 9)
    # 99 samples: p90 would leave only 9 beyond, so p75 is the highest
    assert stats.tail_percentile(range(99))[0] == 75.0
    assert stats.tail_percentile(range(100)) == (90.0, 89)
    assert stats.tail_percentile(range(1000)) == (99.0, 989)
    assert stats.tail_percentile(range(10000)) == (99.9, 9989)


def test_tail_percentile_leaves_exactly_the_samples_beyond():
    xs = [float(i) for i in range(250)]
    pct, v = stats.tail_percentile(xs)
    assert pct == 95.0
    assert sum(1 for x in xs if x > v) >= 10
    assert stats.tail_percentile(xs, min_beyond=30)[0] == 75.0


def test_quartiles_match_statistics_module():
    assert stats.quartiles([10.0, 11.0, 12.0, 13.0, 30.0]) == (10.5, 12.0, 21.5)
    assert stats.quartiles([4.0]) == (4.0, 4.0, 4.0)


# ---------- span self time ----------

def test_self_time_subtracts_the_union_of_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
            {"start": 8.0, "end": 12.0}]  # overlapping, and one past the end
    assert stats.self_time(span, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert stats.self_time(span, []) == 10.0


def test_self_times_from_a_span_tree():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = tracing.self_times(spans)
    assert st == {1: pytest.approx(5.0), 2: pytest.approx(4.0), 3: pytest.approx(1.0)}


# ---------- job-to-span attribution ----------

def _event_log(lines):
    fd, path = tempfile.mkstemp(suffix=".json")
    with os.fdopen(fd, "w") as f:
        for ev in lines:
            f.write(json.dumps(ev) + "\n")
    return path


def test_attribution_from_a_synthetic_event_log():
    def job(jid, stages, span=None, batch=None):
        props = {}
        if span is not None:
            props[tracing.SPAN_PROP] = str(span)
        if batch is not None:
            props["streaming.sql.batchId"] = str(batch)
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": 1000,
                "Stage IDs": stages, "Properties": props}

    def task(stage, run_ms, launch_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch_ms},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 0,
                                 "Input Metrics": {"Bytes Read": 100, "Records Read": 2}}}

    path = _event_log([
        job(0, [0], span=7), {"Event": "SparkListenerStageSubmitted",
                              "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        task(0, 500, 1000), task(0, 500, 1250),
        job(1, [0, 1], span=8),  # stage 0 reused (skipped) by job 1
        task(1, 200, 2000),
        job(2, [2], batch=3), task(2, 100, 3000),
        job(3, [3]), task(3, 50, 4000),
    ])
    try:
        jobs, stages = tracing.parse_event_log(path)
    finally:
        os.unlink(path)
    spans = [{"id": 7, "name": "a", "parent": None, "attrs": {}},
             {"id": 8, "name": "b", "parent": 7, "attrs": {}},
             {"id": 9, "name": "driver.process_batch", "parent": None, "attrs": {"epoch": "3"}}]
    att = tracing.attribute(jobs, spans)
    assert att == {7: [0], 8: [1], 9: [2], 0: [3]}
    a = tracing.stage_sums(jobs, stages, att[7])
    assert a["tasks"] == 2 and a["run_s"] == pytest.approx(1.0)
    assert a["sched_delay_s"] == pytest.approx(0.25)
    b = tracing.stage_sums(jobs, stages, att[8])
    assert b["tasks"] == 1 and b["run_s"] == pytest.approx(0.2)  # skipped stage not recounted


# A toy traced Spark run, in a process of its own: start_spark points
# TMPDIR and the Spark environment at its scratch directory, and stopping
# the session shuts down the gateway JVM, neither of which may leak into
# the test process or a Spark session it already holds.
TOY_TRACED_RUN = """
import json, os, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
import tracing
from common import start_spark, stop_spark

work = sys.argv[3]
spark = start_spark(work, trace=True)
try:
    tr = tracing.Tracer(spark.sparkContext, enabled=True)
    outer = tr.start("outer")
    spark.range(100).selectExpr("sum(id)").collect()
    tr.call("inner", lambda: spark.range(10).count())
    tr.end(outer)
    spark.range(5).collect()
finally:
    stop_spark(spark)
jobs, _stages = tracing.parse_event_log(
    tracing.find_event_log(os.path.join(work, "eventlog")))
att = tracing.attribute(jobs, tr.spans)
print(json.dumps({"ids": {s["name"]: s["id"] for s in tr.spans},
                  "att": {str(k): v for k, v in att.items()}}))
"""


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1", reason="Spark run skipped")
def test_attribution_on_a_toy_spark_run():
    """Jobs launched inside nested spans land on the innermost span, and
    jobs outside any span stay unattributed."""
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="attribution-", dir=scratch)
    try:
        proc = subprocess.run(
            [sys.executable, "-c", TOY_TRACED_RUN, ROOT, HERE, work], cwd=ROOT,
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    att = {int(k): v for k, v in out["att"].items()}
    ids = out["ids"]
    assert att.get(ids["outer"]) and att.get(ids["inner"]) and att.get(0)
    assert max(att[ids["outer"]]) < min(att[ids["inner"]]) <= max(att[ids["inner"]]) < min(att[0])


# ---------- compare verdicts ----------

def test_compare_verdict_rule():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [x * 0.8 for x in base]
    v = compare.verdict(base, faster, list(zip(base, faster)), "lower", 0.1)
    assert v["verdict"] == "improved" and v["win_fraction"] == 1.0
    v = compare.verdict(base, faster, list(zip(base, faster)), "higher", 0.1)
    assert v["verdict"] == "worse" and v["beyond_bound"]
    same = list(base)
    v = compare.verdict(base, same, list(zip(base, same)), "lower", 0.1)
    assert v["verdict"] == "unresolved" and v["win_fraction"] == 0.0
    # wins every pair but by less than the base's own spread: unresolved
    nudged = [x - 0.01 for x in base]
    v = compare.verdict(base, nudged, list(zip(base, nudged)), "lower", 0.1)
    assert v["verdict"] == "unresolved"


# ---------- toy-size smoke run of every workload ----------

@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1", reason="smoke run skipped")
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric_printed_with_its_unit(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = bench["per_layer"] if trace else bench["end_to_end"]
    for wl in bench["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl["name"],
             "--seed", "3", "--seconds", "4", "--trace", str(trace), "--size", "toy"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-3000:]
        for m in want:
            assert m["name"] in out["metrics"], (wl["name"], m["name"])
            assert out["metrics"][m["name"]]["unit"] == m["unit"], (wl["name"], m["name"])
        if not trace:
            assert all(out["metrics"][m["name"]]["value"] > 0 for m in want)
