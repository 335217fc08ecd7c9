"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The last test runs one traced benchmark process and takes about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run, trace  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert all(m["better"] == "lower" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_per_layer_metrics_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.PER_LAYER
    for m in spec["per_layer"]:
        want = "higher" if m["name"] in trace.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]


def test_workloads_match_benchmark_json(spec):
    assert [w["name"] for w in spec["workloads"]] == ["iterative_dedup_graph", "stream_ingest"]
    assert set(run.WORKLOADS) == {"keyword_scan", "iterative_dedup_graph", "stream_ingest"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]


def test_same_seed_same_input_hash(tmp_path):
    base = tmp_path / "base"
    inputs.write_base(str(base), 0.001, seed=42)
    hashes = []
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        out = tmp_path / sub
        inputs.resample_documents(str(base), str(out), 3, seed)
        hashes.append(inputs.content_hash(str(out)))
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]
    again = tmp_path / "base2"
    inputs.write_base(str(again), 0.001, seed=42)
    assert inputs.content_hash(str(base)) == inputs.content_hash(str(again))


def test_remove_new_entries_keeps_what_was_there(tmp_path):
    root = tmp_path / ".cache"
    (root / "winnow" / "old").mkdir(parents=True)
    before = run.cache_entries(str(root))
    (root / "winnow" / "new").mkdir()
    (root / "ingest" / "k").mkdir(parents=True)
    (root / "jsonl_abc").mkdir()
    run.remove_new_entries(str(root), before, existed=True)
    assert run.cache_entries(str(root)) == before
    run.remove_new_entries(str(root), set(), existed=False)
    assert not root.exists()


def test_event_log_metrics_attributes_by_window(tmp_path):
    log = tmp_path / "log"
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_050},
        {"Event": "SparkListenerJobStart", "Submission Time": 1_150},
        {"Event": "SparkListenerJobStart", "Submission Time": 5_000},
        {
            "Event": "SparkListenerTaskEnd",
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {
                "Launch Time": 1_100,
                "Finish Time": 1_300,
                "Accumulables": [{"ID": 7, "Update": "1500"}, {"ID": 8, "Update": "2048"}],
            },
            "Task Metrics": {
                "Executor Run Time": 150,
                "Input Metrics": {"Bytes Read": 1024 * 1024, "Records Read": 10},
            },
        },
    ]
    plan = {
        "nodeName": "FlatMapGroupsInPandasWithState",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
        ],
        "children": [],
    }
    events.insert(0, {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "sparkPlanInfo": {"nodeName": "WholeStageCodegen", "metrics": [], "children": [plan]},
    })
    events.append({
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "runId": "r1",
            "timestamp": "1970-01-01T00:00:01.200Z",
            "durationMs": {"triggerExecution": 90, "addBatch": 60, "walCommit": 5},
            "sources": [{"numInputRows": 40}],
            "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 2, "memoryUsedBytes": 0}],
        },
    })
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = trace.event_log_metrics(str(log), [(1_000.0, 1_100.0, 1_400.0)], cores=2)
    assert m["exec.jobs"] == 2
    assert m["catalog.construct_jobs"] == 1
    assert m["exec.tasks"] == 1
    assert m["sources.input_mb"] == pytest.approx(1.0)
    assert m["exec.idle_s"] == pytest.approx(0.2)
    assert m["exec.slot_busy_frac"] == pytest.approx(0.2 / (2 * 0.4))
    assert m["pyworker.total_s"] == pytest.approx(1.5)
    assert m["pyworker.mb_sent"] == pytest.approx(2048 / 1024**2)
    assert m["stream.batches"] == 1
    assert m["stream.input_rows"] == 40
    assert m["stream.state_rows"] == 3


def test_traced_run_emits_every_per_layer_metric(spec):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iterative_dedup_graph",
         "--seed", "3", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2])["info"]
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert result["metrics"]["exec.jobs"]["value"] > 0
    assert result["metrics"]["catalog.construct_jobs"]["value"] > 0
    # winnowing_dup_groups runs connected components at least once per pass
    assert result["metrics"]["operators.dedup.cc_rounds"]["value"] > 0
    assert {"seed", "input_hash", "cpus", "defaultParallelism"} <= set(info)
