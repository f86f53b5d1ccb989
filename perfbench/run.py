"""mhap_spark benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload skew_resumable --seed 1 --seconds 5 --trace 0

``--trace 0`` sets up the session (start, the workload's warm-up if it has
one and, for the stream, index seeding: ``setup_s``), then runs the
workload's operation in a closed loop for ``--seconds`` and prints the
end-to-end metrics: ``setup_s``, ``op_p50_s`` (median wall time per
operation) and ``dup_pair_recall``.

``--trace 1`` sets up once and runs a warm-up operation, then an untraced
operation, a traced one (the same entry point with each layer's Spark jobs
tagged with its name and its output materialized at its boundary) and a
second untraced one doing the same work.  It checks that all three give the
same outputs, reads the Spark event log and prints the per-layer metrics;
``pipeline.trace_overhead_s`` is the traced time minus the mean of the two
untraced ones.  Spans are written
to ``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it records
the host (cores, heap, Spark version) and per-operation details.  A wrong
output, in set-up or in a measured operation, counts as a failed operation
and makes the command exit 1.  ``--smoke`` runs toy sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "dup_pair_recall": "ratio",
}

LAYER_UNITS = {"self_s": "s", "jobs": "count", "task_s": "s", "python_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
               "core_util": "ratio"}
COUNT_UNITS = {
    "freq.rows_out": "count",
    "minhash.rows_out": "count",
    "candidates.pairs_out": "count",
    "candidates.buckets": "count",
    "candidates.capped_buckets": "count",
    "verify.pairs_out": "count",
    "verify.yield": "ratio",
    "cluster.edges_in": "count",
    "cluster.clusters_out": "count",
    "checkpoint.written_mb": "MB",
    "streaming.index_rows": "count",
    "streaming.bytes_per_row": "B",
    "streaming.matches": "count",
    "pipeline.trace_overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.spans import LAYER_FIELDS, LAYERS

    units = {f"{layer}.{f}": LAYER_UNITS[f] for layer in LAYERS for f in LAYER_FIELDS}
    units.update(COUNT_UNITS)
    return units


class Stopwatch:
    """Accumulates the wall time spent inside ``with`` blocks."""

    def __init__(self):
        self.total = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.total += time.perf_counter() - self._t0


def session(name: str, host: dict, extra: dict | None = None):
    from mhap_spark.session import build_session

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={host['tmp_dir']}",
            "spark.ui.showConsoleProgress": "false"}
    spark = build_session(f"perfbench_{name}", master=host["master"],
                          shuffle_partitions=max(host["cores"], 8),
                          extra={**conf, **(extra or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_end_to_end(wl, host: dict, seconds: float) -> tuple[dict, int, int, dict]:
    from perfbench.host import RssSampler, jvm_pid, shutdown
    from perfbench.workloads import MIN_RECALL

    spark, sampler, setup = None, None, Stopwatch()
    times, attempted, failed, errors = [], 0, 0, []
    try:
        with setup:
            spark = session(wl.name, host)
        sampler = RssSampler(jvm_pid(spark)).__enter__()
        bad = wl.setup(spark, setup)
        if bad:
            # a wrong output in set-up counts as one failed operation
            attempted, failed = 1, 1
            errors.extend(bad)

        deadline = time.perf_counter() + seconds
        while True:
            attempted += 1
            clock = Stopwatch()
            try:
                bad = wl.op(spark, clock)
            except Exception:  # noqa: BLE001 - a failed op is counted, then the run ends
                failed += 1
                errors.append(traceback.format_exc())
                break
            times.append(clock.total)
            if bad:
                failed += 1
                errors.extend(bad)
            if time.perf_counter() >= deadline or wl.exhausted():
                break
        recall = wl.recall(spark) if times else 0.0
        if recall < MIN_RECALL and failed < attempted:
            # wrong output of the run as a whole: charge it to the last op
            failed += 1
            errors.append(f"dup_pair_recall {recall:.4f} < {MIN_RECALL}")
    finally:
        if sampler is not None:
            sampler.__exit__(None, None, None)
        if spark is not None:
            shutdown(spark)
    for e in errors:
        print(e, file=sys.stderr)
    metrics = {
        "setup_s": setup.total,
        "op_p50_s": statistics.median(times) if times else 0.0,
        "dup_pair_recall": recall,
    }
    # peak RSS swings up to twofold between runs of the same code (3.0-5.6
    # GB on stream_ingest at 4 cores and a 7 GB heap: JVM heap growth
    # follows GC timing, worker memory how many workers are alive), so it
    # is reported beside the metrics rather than held to a bound
    detail = {"op_s": times, "peak_rss_mb": sampler.peak_mb,
              "rss_jvm_mb": sampler.jvm_kb / 1024, "rss_workers_mb": sampler.workers_kb / 1024}
    return metrics, attempted, failed, detail


def run_traced(wl, host: dict, seed: int) -> tuple[dict, int, int, dict]:
    from perfbench.host import shutdown
    from perfbench.spans import Tracer, layer_metrics

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = log_dir
    spark = session(wl.name, host, {"spark.eventLog.compress": "false",
                                    "spark.eventLog.rolling.enabled": "false"})
    before, after = Stopwatch(), Stopwatch()
    try:
        tracer = Tracer(spark.sparkContext, f"{wl.name}-{seed}")
        # a warm-up operation, then untraced, traced, untraced: the traced
        # operation is compared with the mean of the two around it, so its
        # position in the run cancels
        bad = [wl.setup(spark, Stopwatch()) + wl.op(spark, Stopwatch())
               + wl.op(spark, before)]
        outputs = [wl.outputs(spark)]
        traced_s, counts, traced_bad = wl.traced_op(spark, tracer)
        bad.append(traced_bad)
        outputs.append(wl.outputs(spark))
        bad.append(wl.replay(spark, after))
        outputs.append(wl.outputs(spark))
    finally:
        shutdown(spark)
    for i, label in ((1, "traced"), (2, "second untraced")):
        if outputs[i] != outputs[0]:
            bad[i].append(f"{label} outputs {outputs[i]} != first untraced {outputs[0]}")
    for e in sum(bad, []):
        print(e, file=sys.stderr)
    untraced_s = [before.total, after.total]
    metrics = {name: 0.0 for name in COUNT_UNITS}
    metrics.update(layer_metrics(tracer, log_dir, host["cores"]))
    metrics.update(counts)
    metrics["pipeline.trace_overhead_s"] = traced_s - statistics.mean(untraced_s)
    detail = {"untraced_s": untraced_s, "traced_s": traced_s}
    tracer.write(os.path.join(WORK, f"trace-{wl.name}-{seed}.json"),
                 {"host": host, **detail, "outputs_equal": outputs[1:] == outputs[:1] * 2,
                  "metrics": metrics})
    return metrics, len(bad), sum(1 for b in bad if b), detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy input sizes")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.host import pin_host

    host = pin_host(WORK)
    import pyspark

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    size = "smoke" if args.smoke else "full"
    wl = WORKLOADS[args.workload](args.seed, args.smoke, WORK, host["cores"])
    try:
        if args.trace:
            metrics, attempted, failed, detail = run_traced(wl, host, args.seed)
            units = per_layer_units()
        else:
            metrics, attempted, failed, detail = run_end_to_end(wl, host, args.seconds)
            units = END_TO_END
    finally:
        shutil.rmtree(wl.work_dir, ignore_errors=True)
    print(json.dumps({"host": {**host, "spark": pyspark.__version__, "size": size,
                               "workload": args.workload, "seed": args.seed},
                      "detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
