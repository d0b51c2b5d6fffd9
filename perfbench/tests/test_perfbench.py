"""Self-tests of the benchmark.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(a few minutes: the smoke runs start Spark at sf0.001).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import run as perfrun  # noqa: E402
import workloads  # noqa: E402

_RUNS: dict[tuple, tuple[dict, dict]] = {}


def bench_run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    """(info line, result line) of one small benchmark run, memoized."""
    key = (workload, seed, trace, extra)
    if key not in _RUNS:
        cmd = [sys.executable, os.path.join(BENCH, "run.py"),
               "--workload", workload, "--seed", str(seed), "--seconds", "1",
               "--trace", str(trace), "--sf", "0.001", "--pages", "5000", *extra]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=900)
        assert out.returncode == 0, out.stderr[-4000:]
        info, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        _RUNS[key] = (info, result)
    return _RUNS[key]


def _assert_metrics(result: dict, units: dict) -> None:
    assert set(result["metrics"]) == set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], name
        assert math.isfinite(m["value"]), name


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_traced_run_of_every_workload(workload):
    info, result = bench_run(workload, 1, 1)
    assert result["correct"] is True, info["failed_checks"]
    assert result["failed"] == 0 and result["attempted"] >= 2
    _assert_metrics(result, perfrun._layer_units())
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert info["host"]["nproc"] >= 1 and info["host"]["ram_gib"] > 0
    assert metrics["spark.exec.run_s"] > 0 and metrics["trace.overhead_ratio"] > 0
    if workload == workloads.FLAGSHIP:
        assert metrics["pipeline.extract_s"] > 0
        assert metrics["spark.scan.rows"] > 0 and metrics["spark.udf.rows"] == 0
    else:
        assert metrics["spark.udf.rows"] > 0
    if info["host"]["nproc"] < 8:
        assert info["host"]["scaling_gate_2_to_8"].startswith("not measurable")


def test_tampered_expected_hash_counts_as_failure():
    info, result = bench_run(workloads.ITERATIVE, 1, 0,
                             "--tamper-expected", "geo_knn_join")
    _assert_metrics(result, perfrun.E2E_UNITS)
    assert result["correct"] is False
    assert "geo_knn_join" in info["failed_checks"]
    # every timed geo_knn_join operation and its check fail, nothing else
    assert result["failed"] == info["rounds"] + 1
    ok_ratio = result["metrics"]["ok_ratio"]["value"]
    assert ok_ratio == pytest.approx(1 - result["failed"] / result["attempted"])


def test_job_counts_repeat_exactly_across_runs():
    names = ["queries.build_jobs", "driver.jobs_per_op", "driver.stages_per_op"]
    a = bench_run(workloads.ITERATIVE, 1, 1)[1]["metrics"]
    b = bench_run(workloads.ITERATIVE, 2, 1)[1]["metrics"]
    assert [a[n]["value"] for n in names] == [b[n]["value"] for n in names]
    assert a["queries.build_jobs"]["value"] > 0


def test_fixtures_match_their_checksums():
    """The vendored tables are byte-identical to the recorded fixtures."""
    import hashlib

    with open(os.path.join(workloads.FIXTURES, "SHA256SUMS")) as f:
        sums = [line.split() for line in f if line.strip()]
    assert {os.path.dirname(rel) for _, rel in sums} == {"sf0.01", "sf0.001"}
    for digest, rel in sums:
        with open(os.path.join(workloads.FIXTURES, rel), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, rel


def test_peak_rss_reset_forgets_earlier_peak():
    import procstat

    me = [os.getpid()]
    block = bytearray(256 * 2**20)
    block[::4096] = b"x" * len(block[::4096])  # touch every page
    before = procstat.peak_rss_mb(me)
    del block
    procstat.reset_peak_rss(me)
    assert procstat.peak_rss_mb(me) < before - 200


def test_tail_percentile_keeps_ten_samples_beyond():
    walls = [float(i) for i in range(1, 47)]
    p, value = perfrun.tail_percentile(walls)
    assert p == 78.0 and sum(w > value for w in walls) == 10
    p, value = perfrun.tail_percentile([3.0, 1.0, 2.0])
    assert p == 50.0 and value == pytest.approx(2.0)
    assert perfrun.hd_quantile([5.0], 0.5) == pytest.approx(5.0)
    assert perfrun.hd_quantile(list(range(1, 101)), 0.5) == pytest.approx(50.5)
    assert perfrun.tail_percentile([float(i) for i in range(18)])[0] == 50.0


# -- event-log parser fixture ------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _metric(name, acc, kind="sum"):
    return {"name": name, "accumulatorId": acc, "metricType": kind}


def _fixture_events() -> list[dict]:
    scan = {"nodeName": "Scan parquet ", "children": [], "metrics": [
        _metric("number of output rows", 11), _metric("size of files read", 12, "size")]}
    udf = {"nodeName": "ArrowEvalPython", "children": [scan], "metrics": [
        _metric("data sent to Python workers", 13, "size"),
        _metric("data returned from Python workers", 14, "size"),
        _metric("number of output rows", 15),
        _metric("time to run Python workers", 16, "timing")]}
    exchange = {"nodeName": "Exchange", "children": [udf], "metrics": [
        _metric("shuffle bytes written", 17, "size")]}
    plan = {"nodeName": "WholeStageCodegen (1)", "children": [exchange],
            "metrics": [_metric("duration", 10, "timing")]}

    def task(stage, run_ms, accs):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"ID": i, "Name": "x", "Update": str(u), "Value": "0"}
                    for i, u in accs]},
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": 4_000_000,
                    "JVM GC Time": 1, "Disk Bytes Spilled": 64,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 300,
                                              "Shuffle Write Time": 2_000_000},
                    "Shuffle Read Metrics": {"Fetch Wait Time": 3}}}

    return [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "op-1", "sparkPlanInfo": plan, "time": 900},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op-1",
                                             "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "warm-x"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        task(0, 20, [(10, 5), (11, 100), (13, 2048), (14, 512), (15, 100),
                     (16, 7), (17, 300), (99, 1)]),
        task(0, 30, [(10, 7), (11, 50)]),
        task(2, 50, []),
        {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[12, 4096]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
    ]


def test_eventlog_attributes_metrics_to_job_groups(tmp_path):
    events = _fixture_events()
    # a rolling event-log directory split over two parts
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for part, chunk in ((1, events[:6]), (2, events[6:])):
        (d / f"events_{part}_local-1").write_text(
            "".join(json.dumps(e) + "\n" for e in chunk))
    assert eventlog.read_events(str(tmp_path)) == events

    groups = eventlog.attribute(events)
    op = groups["op-1"]
    assert op.jobs == [(1000, 1500)] and op.stages == 1
    c = op.counters
    assert c["codegen_ms"] == 12 and c["scan_rows"] == 150
    assert c["scan_bytes"] == 4096
    assert (c["udf_bytes_sent"], c["udf_bytes_returned"]) == (2048, 512)
    assert (c["udf_rows"], c["udf_worker_ms"]) == (100, 7)
    assert c["tasks"] == 2 and c["run_ms"] == 50 and c["cpu_ns"] == 8_000_000
    assert c["shuffle_bytes_written"] == 600 and c["shuffle_write_ns"] == 4_000_000
    assert c["fetch_wait_ms"] == 6 and c["spill_bytes"] == 128 and c["gc_ms"] == 2
    warm = groups["warm-x"]
    assert warm.counters["run_ms"] == 50 and warm.stages == 1
    assert "codegen_ms" not in warm.counters


def test_covered_ms_unions_and_clips_intervals():
    assert eventlog.covered_ms([(1000, 1500), (1400, 1800), (1900, 1950)],
                               1200, 1920) == 620
    assert eventlog.covered_ms([], 0, 10) == 0
