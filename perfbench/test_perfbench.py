"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The helper tests run in seconds without Spark.  The smoke tests run every
workload at toy size through the real command, untraced and traced, so a
broken workload fails here rather than in a long benchmark run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import spans  # noqa: E402
from perfbench.run import COUNT_UNITS, END_TO_END, per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS, components, pair_recall  # noqa: E402


def test_components_and_recall():
    # 0-1-2 chained, 3-4 joined, 5 alone
    label = components(6, np.array([1, 2, 4]), np.array([0, 1, 3]))
    assert label.tolist() == [0, 0, 0, 3, 3, 5]
    truth = np.array([7, 7, 7, 8, 8, 8])  # 3 + 3 planted pairs
    assert pair_recall(truth, label) == pytest.approx(4 / 6)
    assert pair_recall(truth, np.zeros(6, dtype=int)) == 1.0


def _event_log(tmp_path, events):
    d = tmp_path / "eventlog"
    d.mkdir()
    (d / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def _task(stage, run_ms, python_ms=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "time to run Python workers", "Update": str(python_ms)}]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


def test_layer_costs_fold_tasks_by_job_group(tmp_path):
    mb = 1024 * 1024
    log = _event_log(tmp_path, [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "minhash"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(0, 1000, python_ms=800, shuffle=2 * mb),
        _task(0, 3000, python_ms=2000, spill=mb),
        _task(0, 1000),
        _task(1, 500),
        _task(2, 250),
    ])
    costs = spans.layer_costs(log)
    m = costs["minhash"]
    assert m["jobs"] == 1
    assert m["task_s"] == pytest.approx(5.5)
    assert m["python_s"] == pytest.approx(2.8)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(1.0)
    assert m["task_skew"] == pytest.approx(3.0)  # stage 0: max 3 s / median 1 s
    assert costs[spans.UNTRACED]["task_s"] == pytest.approx(0.25)


class _FakeContext:
    def setJobGroup(self, group, description):
        self.group = group


def test_tracer_self_time_and_job_groups():
    sc = _FakeContext()
    tracer = spans.Tracer(sc, "run")
    with tracer.span("pipeline"):
        with tracer.span("minhash"):
            assert sc.group == "minhash"
        assert sc.group == "pipeline"
    assert sc.group == spans.UNTRACED
    outer, inner = tracer.spans
    self_s = tracer.self_seconds()
    assert inner["parent"] == 0 and outer["parent"] is None
    assert self_s["pipeline"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


class _Layer:
    @classmethod
    def compute(cls, n):
        return list(range(n))


def test_boundaries_wrap_and_restore():
    sc = _FakeContext()
    tracer = spans.Tracer(sc, "run")
    owner = _FakeContext()
    owner.scale = lambda x: x * 2
    original = vars(_Layer)["compute"]
    counts = {}
    targets = [spans.Boundary(_Layer, "compute", "freq", "freq.rows_out", size=len),
               spans.Boundary(owner, "scale", "minhash")]
    with spans.boundaries(tracer, counts, targets):
        assert _Layer.compute(3) == [0, 1, 2]
        assert _Layer.compute(2) == [0, 1]
        assert owner.scale(4) == 8
    assert counts == {"freq.rows_out": 5}
    assert [s["name"] for s in tracer.spans] == ["freq", "freq", "minhash"]
    assert vars(_Layer)["compute"] is original
    assert _Layer.compute(1) == [0]


def _run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    units = per_layer_units() if trace else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in m.values()), m
        return
    used = {"skew_resumable": ("freq", "minhash", "candidates", "verify", "cluster",
                               "checkpoint", "pipeline"),
            "stream_ingest": ("minhash", "candidates", "verify", "streaming", "pipeline"),
            "doc_ops": ("ops.dedup", "ops.similarity", "pipeline")}[workload]
    for layer in used:
        assert m[f"{layer}.self_s"] > 0, layer
    for layer in set(used) - {"pipeline"}:
        assert m[f"{layer}.jobs"] > 0 and m[f"{layer}.task_s"] > 0, layer
    python_layer = "ops.dedup" if workload == "doc_ops" else "minhash"
    assert m[f"{python_layer}.python_s"] > 0
    # the bucket funnel is observed by run_pipeline only
    funnel = {"candidates.buckets", "candidates.capped_buckets"}
    counted = [k for k in COUNT_UNITS if k.split(".")[0] in used
               and k != "pipeline.trace_overhead_s"
               and not (workload == "stream_ingest" and k in funnel)]
    assert all(m[k] > 0 for k in counted), {k: m[k] for k in counted}
