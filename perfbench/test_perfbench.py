"""Self-tests of the benchmark (not part of the package's test suite).

    python -m pytest perfbench -q

The Spark-free tests run in seconds. The other tests start Spark: each
runs ``run.py`` in its own process on inputs shrunk with ``--scale 0.01``
(about sf0.001; ``sweep_wide`` keeps its full 22,000 rows), about 12
minutes in all, half of it ``sweep_wide``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SMOKE_SCALE = "0.01"


def manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, seed: int = 5, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--scale", SMOKE_SCALE,
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result_lines(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


# -- Spark-free ----------------------------------------------------------------
def test_inputs_repeat_per_seed():
    a, b = inputs.lineitem_table(3, 2000), inputs.lineitem_table(3, 2000)
    assert a.equals(b)
    assert not a.equals(inputs.lineitem_table(4, 2000))
    (d1, p1), (d2, p2) = inputs.documents_table(3, 300), inputs.documents_table(3, 300)
    assert d1.equals(d2) and p1 == p2


def test_planted_duplicates_are_near_duplicates():
    table, planted = inputs.documents_table(9, 500)
    texts = table.column("text").to_pylist()
    assert planted
    for a, b in planted:
        sa, sb = workloads._shingles(texts[a]), workloads._shingles(texts[b])
        assert len(sa & sb) / len(sa | sb) >= 8 / 9


def test_union_find_components_take_min_id():
    comps = workloads._union_find_components(list(range(6)), [(4, 1), (1, 3), (5, 2)])
    assert comps == {0: 0, 1: 1, 2: 2, 3: 1, 4: 1, 5: 2}


def test_insight_key_sets():
    lines = ["a=1;b=[0-10];5", "a=2;b=[10-20];7", "b=[0-10];9", "a=1;c d=x;3"]
    assert workloads.insight_key_sets(lines) == 3


def test_event_log_fold_attributes_tasks_to_spans(tmp_path):
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {spans.PROPERTY: "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10**9, "JVM GC Time": 20,
            "Peak Execution Memory": 64, "Disk Bytes Spilled": 3,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 1000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Peak Execution Memory": 32,
            "Shuffle Read Metrics": {"Remote Bytes Read": 40, "Local Bytes Read": 60},
            "Output Metrics": {"Bytes Written": 9, "Records Written": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    ]
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:3]) + "\n")
    (log / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[3:]) + "\n")
    c = spans.fold_event_log(str(tmp_path))
    assert set(c) == {7}
    s = c[7]
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 2, 2)
    assert s["task_run_s"] == 2.0 and s["task_cpu_s"] == 1.0 and s["gc_s"] == 0.02
    assert s["shuffle_write_B"] == 100 and s["shuffle_read_B"] == 100 and s["spill_B"] == 3
    assert s["peak_exec_mem_B"] == 64 and s["input_B"] == 1000
    assert s["output_B"] == 9 and s["output_rows"] == 2


def test_pin_jobs_count_for_the_calling_layer():
    tracer = spans.Tracer.__new__(spans.Tracer)
    tracer.spans = [
        spans.Span(1, None, "job", "job", 0, 0.0, 10.0),
        spans.Span(2, 1, "operators.dedup", "connected_components", 0, 1.0, 9.0),
        spans.Span(3, 2, spans.PIN_LAYER, "pin", 0, 2.0, 4.0),
        spans.Span(4, 2, spans.PIN_LAYER, "pin", 0, 5.0, 6.0),
        spans.Span(5, 2, spans.PIN_LAYER, "pin", 0, 6.0, 7.0),
    ]
    counters = {i: dict.fromkeys(spans.COUNTERS, 0) for i in (3, 4, 5)}
    for i in (3, 4, 5):
        counters[i]["jobs"] = 2
    m, varying = spans.layer_metrics(tracer, counters)
    assert varying == {}
    assert m[f"{spans.PIN_LAYER}.jobs"] == 6 and m["operators.dedup.jobs"] == 6
    assert m["operators.dedup.wall_s"] == 8.0 and m["operators.dedup.self_s"] == 4.0
    assert m["operators.dedup.cc_rounds"] == 2 and m[f"{spans.PIN_LAYER}.calls"] == 3
    assert m["job.self_s"] == 2.0


def test_without_the_package_the_run_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = manifest()["command"] + [
        "--workload", "pipeline_csv", "--seed", "1", "--seconds", "1", "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# -- smoke runs (Spark) --------------------------------------------------------
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run_is_correct_and_prints_exactly_the_manifest_metrics(workload):
    detail, last = result_lines(run_bench(workload, trace=0))
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 3
    assert detail["error_rate"] == 0
    want = {m["name"]: m["unit"] for m in manifest()["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(v["value"] > 0 for v in last["metrics"].values())


#: Shuffle and file byte counts can differ by a few bytes between identical
#: jobs: a map task's input order follows shuffle block fetch order, and
#: the compressed size follows the order. Every other count is exact.
BYTES_REL_TOL = 1e-3


def assert_counts_repeat(name: str, values: list[float]) -> None:
    if name.endswith("_B"):
        assert max(values) - min(values) <= BYTES_REL_TOL * max(values), (name, values)
    else:
        assert len(set(values)) == 1, (name, values)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_counts_repeat_across_runs(workload):
    runs = [result_lines(run_bench(workload, trace=1)) for _ in range(2)]
    want = {m["name"]: m["unit"] for m in manifest()["per_layer"]}
    for detail, last in runs:
        assert last["correct"]
        assert {k: v["unit"] for k, v in last["metrics"].items()} == want
        for name, values in detail["counts_varying"].items():
            assert_counts_repeat(name, values)
        m = {k: v["value"] for k, v in last["metrics"].items()}
        # Layer self times plus the time outside every layer span make up
        # the traced job; the outside part is benchmark glue, and small.
        assert m["trace.unattributed_s"] <= max(m["trace.overhead_s"], 0) + 0.05 * m["trace.job_s"]
    (_, a), (_, b) = runs
    for name, v in a["metrics"].items():
        if v["unit"] in ("count", "B") and not name.endswith("peak_exec_mem_B"):
            assert_counts_repeat(name, [v["value"], b["metrics"][name]["value"]])
