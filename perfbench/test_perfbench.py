"""Tests of the benchmark itself: statistics helpers, the event-log reader,
a tiny run of each workload, and the round-trip gate on a corrupted archive.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import stats  # noqa: E402


# -- statistics ------------------------------------------------------------

def test_median_odd_and_even():
    assert stats.median([3, 1, 2]) == 2.0
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile([7], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile(xs, 0)


def test_supported_percentile_leaves_ten_samples_beyond():
    assert stats.supported_percentile(19) is None
    assert stats.supported_percentile(20) == 50
    assert stats.supported_percentile(100) == 90
    assert stats.supported_percentile(1000) == 99
    for n in (20, 37, 100, 250):
        p = stats.supported_percentile(n)
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
        assert beyond >= stats.TAIL_SAMPLES


def test_summarize_adds_tail_only_when_supported():
    assert stats.summarize([1.0, 2.0, 3.0]) == {"median": 2.0, "n": 3}
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p90"] == 89.0


# -- event log -------------------------------------------------------------

def _scope(sid, name):
    return json.dumps({"id": sid, "name": name})


def _task(stage, run_ms, shuffle_w=0, local_r=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": local_r},
        },
    }


FIXTURE = [
    {"Event": "SparkListenerLogStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "keys@0"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {
        "Stage ID": 0, "RDD Info": [
            {"RDD ID": 1, "Name": "MapPartitionsRDD",
             "Scope": _scope("7", "ArrowEvalPython")},
            {"RDD ID": 2, "Name": "MapPartitionsRDD",
             "Scope": _scope("7", "ArrowEvalPython")},
            {"RDD ID": 3, "Name": "MapPartitionsRDD",
             "Scope": _scope("8", "WholeStageCodegen (1)")},
        ]}},
    _task(0, 100, shuffle_w=50),
    _task(0, 300, shuffle_w=70),
    _task(0, 100, shuffle_w=30),
    # stage 1 is listed by the job but never submitted (reused shuffle)
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "write@0"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {
        "Stage ID": 2, "RDD Info": [
            {"RDD ID": 9, "Name": "PythonRDD"},
            {"RDD ID": 10, "Name": "MapPartitionsRDD",
             "Scope": _scope("20", "MapInPandas")},
            {"RDD ID": 11, "Name": "MapPartitionsRDD",
             "Scope": _scope("21", "Window")},
        ]}},
    _task(2, 40, local_r=500, spill=1000),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
     "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {
        "Stage ID": 3, "RDD Info": []}},
    _task(3, 5),
]


@pytest.fixture
def fixture_log(tmp_path):
    d = tmp_path / "events" / "eventlog_v2_local-1"
    d.mkdir(parents=True)
    with open(d / "events_1_local-1", "w") as f:
        for ev in FIXTURE:
            f.write(json.dumps(ev) + "\n")
    return str(tmp_path / "events")


def test_event_log_layer_metrics(fixture_log):
    files = eventlog.event_files(fixture_log)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    stages = eventlog.parse_stages(eventlog.read_events(files))
    assert sorted(stages) == [0, 2, 3]
    layers = eventlog.layer_metrics(stages)
    assert sorted(layers) == ["keys@0", "write@0"]  # ungrouped job left out
    keys = layers["keys@0"]
    assert keys["task_s"] == pytest.approx(0.5)
    assert keys["task_skew"] == pytest.approx(3.0)
    assert keys["shuffle_bytes"] == 150
    assert keys["spill_bytes"] == 0
    assert keys["py_hops"] == 1  # one ArrowEvalPython over two RDDs
    assert keys["stages"] == 1
    write = layers["write@0"]
    assert write["task_skew"] == 1.0  # a single task has no skew
    assert write["shuffle_bytes"] == 500
    assert write["spill_bytes"] == 1000
    assert write["py_hops"] == 2  # MapInPandas + a Python RDD


def test_event_log_operator_skew(fixture_log):
    stages = eventlog.parse_stages(eventlog.read_events(
        eventlog.event_files(fixture_log)))
    assert eventlog.operator_skew(stages, "keys@0",
                                  "ArrowEvalPython") == pytest.approx(3.0)
    assert eventlog.operator_skew(stages, "write@0", "Window") == 1.0
    assert eventlog.operator_skew(stages, "keys@0", "Window") == 1.0


# -- the result contract ----------------------------------------------------

def _run(args, cwd):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py")] + args, cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_benchmark_json_names_the_metrics():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == (
        run.per_layer_metrics())


def test_refuses_a_tree_without_the_package(tmp_path):
    proc = _run(["--workload", "frontier_round", "--seed", "1",
                 "--seconds", "1", "--trace", "0"], str(tmp_path))
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert not os.listdir(tmp_path)


@pytest.mark.parametrize("workload,trace", [("frontier_round", 1),
                                            ("warc_roundtrip", 0)])
def test_tiny_run(workload, trace):
    import run

    work = os.path.join(ROOT, ".perfbench_work")
    before = set(os.listdir(work)) if os.path.isdir(work) else set()
    proc = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--scale", "tiny"], ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.per_layer_metrics() if trace else list(run.END_TO_END)
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == want
    assert all(isinstance(v["value"], float)
               for v in result["metrics"].values())
    assert any(line.startswith("{\"load_canary\"") for line in lines)
    after = set(os.listdir(work)) if os.path.isdir(work) else set()
    assert after <= before  # the run removed its work directory


# -- the round-trip gate -----------------------------------------------------

def test_one_corrupt_byte_trips_the_warc_gate(tmp_path):
    import host
    from core import Context
    from warc_roundtrip import WarcRoundtrip, check_archive

    spark = host.make_session(str(tmp_path))
    try:
        wl = WarcRoundtrip(Context(spark, str(tmp_path), 7, "tiny",
                                   host.cores()))
        wl.setup()
        assert all(c.ok for c in wl.check())
        victim = max(wl.paths, key=os.path.getsize)
        with open(victim, "r+b") as f:
            f.seek(os.path.getsize(victim) // 2)
            byte = f.read(1)
            f.seek(-1, os.SEEK_CUR)
            f.write(bytes([byte[0] ^ 0x01]))
        checks = check_archive(spark, wl.html, wl._full, wl._index,
                               wl._fetch, wl.entries.count())
        assert not all(c.ok for c in checks)
    finally:
        spark.stop()
