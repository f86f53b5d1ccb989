"""Spans recorded around layer calls, and the Spark event-log reader that
turns each layer's jobs into per-layer costs.

A span is (name, start, end, parent, run_id).  Entering a span tags every
Spark job the Spark driver submits with the span's name as job group
(``SparkContext.setJobGroup``); leaving it restores the parent's group.  After
the session stops, the event log is read back and each job's tasks are
credited to the layer named by its job group.

``boundaries`` puts the spans around the layer functions a program entry
point (``run_pipeline``, ``process_batch``) looks up at call time, so the
traced run is the entry point itself with each layer's output materialized
where it returns.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections.abc import Callable
from typing import Any, NamedTuple

# group for jobs submitted outside every span
UNTRACED = "untraced"

# layers named after the engine modules; ``pipeline`` is the root span, so
# its self time is the Spark-driver time that falls outside every other layer
LAYERS = ("freq", "minhash", "candidates", "verify", "cluster", "checkpoint",
          "streaming", "ops.dedup", "ops.similarity", "pipeline")

LAYER_FIELDS = ("self_s", "jobs", "task_s", "python_s", "shuffle_write_mb",
                "spill_mb", "task_skew", "core_util")

# SQL metric (ms per task) that times the Python workers of Arrow / pandas
# UDF nodes.  The "time to start/initialize Python workers" metrics are left
# out: their per-task updates exceed the task's own run time.
PYTHON_TIME_METRICS = ("time to run Python workers",)

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        sc.setJobGroup(UNTRACED, UNTRACED)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            back = self.spans[parent]["name"] if parent is not None else UNTRACED
            self.sc.setJobGroup(back, back)

    def self_seconds(self) -> dict[str, float]:
        """Per layer name: span time minus the part its child spans cover
        (children run inside their parent, sequentially, so this is the
        span's duration minus its children's durations)."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - kids
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, sort_keys=True)


class Boundary(NamedTuple):
    """Layer function ``owner.attr`` traced as span ``layer``.  A DataFrame
    it returns is persisted and counted inside the span (unless
    ``materialize`` is false); ``size`` gives the count of anything else.
    The count is added to ``counts[key]``."""

    owner: Any
    attr: str
    layer: str
    key: str | None = None
    size: Callable[[Any], float] | None = None
    materialize: bool = True


_MISSING = object()


@contextlib.contextmanager
def boundaries(tracer: Tracer, counts: dict[str, float], targets: list[Boundary]):
    """While the block runs, each target's function is replaced by a wrapper
    that calls it inside its span and materializes its output there.  On
    exit the functions are restored and the persisted outputs released."""
    from pyspark.sql import DataFrame

    saved, cached = [], []

    def wrap(fn, b: Boundary):
        def traced(*args, **kwargs):
            with tracer.span(b.layer):
                out = fn(*args, **kwargs)
                n = None
                if isinstance(out, DataFrame) and b.materialize:
                    out = out.persist()
                    cached.append(out)
                    n = out.count()
                elif b.size is not None:
                    n = b.size(out)
            if b.key is not None and n is not None:
                counts[b.key] = counts.get(b.key, 0) + n
            return out
        return traced

    for b in targets:
        saved.append((b.owner, b.attr, vars(b.owner).get(b.attr, _MISSING)))
        setattr(b.owner, b.attr, wrap(getattr(b.owner, b.attr), b))
    try:
        yield
    finally:
        for owner, attr, old in reversed(saved):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        for df in cached:
            df.unpersist()


def _events(log_dir: str):
    """Yield the events of the one application logged, uncompressed and not
    rolled, in ``log_dir``."""
    files = sorted(os.listdir(log_dir))
    if len(files) != 1:
        raise RuntimeError(f"expected one application event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def layer_costs(log_dir: str) -> dict[str, dict]:
    """Fold the event log into {job group: cost} with the ``LAYER_FIELDS``
    that come from tasks (all but ``self_s`` and ``core_util``)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[float]] = {}   # stage -> task run times (s)
    acc: dict[str, dict[str, float]] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or UNTRACED
            jobs[group] = jobs.get(group, 0) + 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = stage_group.get(sid, UNTRACED)
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            tasks.setdefault(sid, []).append(run_s)
            a = acc.setdefault(group, {"task_s": 0.0, "python_s": 0.0,
                                       "shuffle_write_mb": 0.0, "spill_mb": 0.0})
            a["task_s"] += run_s
            a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            for u in (e.get("Task Info") or {}).get("Accumulables", ()):
                if u.get("Name") in PYTHON_TIME_METRICS:
                    a["python_s"] += _timing_seconds(u.get("Update"))
    out: dict[str, dict] = {}
    for group in set(jobs) | set(acc):
        row = {"jobs": jobs.get(group, 0), "task_s": 0.0, "python_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
        row.update(acc.get(group, {}))
        stages = [t for sid, t in tasks.items() if stage_group.get(sid, UNTRACED) == group]
        if stages:
            big = max(stages, key=sum)
            med = statistics.median(big)
            row["task_skew"] = max(big) / med if med > 0 else 1.0
        out[group] = row
    return out


def _timing_seconds(update) -> float:
    """The Python-worker SQL timing metrics are logged in milliseconds."""
    return float(update or 0) / 1000.0


def layer_metrics(tracer: Tracer, log_dir: str, cores: int) -> dict[str, float]:
    """Every ``<layer>.<field>`` metric; layers the run did not use read 0."""
    costs = layer_costs(log_dir)
    self_s = tracer.self_seconds()
    out: dict[str, float] = {}
    for layer in LAYERS:
        c = costs.get(layer, {})
        s = self_s.get(layer, 0.0)
        task_s = c.get("task_s", 0.0)
        out.update({
            f"{layer}.self_s": s,
            f"{layer}.jobs": float(c.get("jobs", 0)),
            f"{layer}.task_s": task_s,
            f"{layer}.python_s": c.get("python_s", 0.0),
            f"{layer}.shuffle_write_mb": c.get("shuffle_write_mb", 0.0),
            f"{layer}.spill_mb": c.get("spill_mb", 0.0),
            f"{layer}.task_skew": c.get("task_skew", 0.0),
            f"{layer}.core_util": task_s / (s * cores) if s > 0 else 0.0,
        })
    return out
