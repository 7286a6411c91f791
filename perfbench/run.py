#!/usr/bin/env python3
"""Benchmark of the trend engine, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Each run is a fresh process with a fresh
Spark session on ``local[nproc]`` and fresh run directories under
``.perfbench_run/``, so session caches start cold. Inputs are generated
from ``--seed``. The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones below; with
``--trace 1`` they are the per-layer ones, read from Spark's event log,
job tags and a streaming progress listener. A traced run also writes
``.perfbench_out/trace-<workload>-<seed>-<pid>.json`` with every span,
per-layer self time, per-query and per-module job totals, the streaming
per-trigger phases, and the tracing overhead: traced end-to-end numbers
minus the median of the untraced runs in ``.perfbench_out`` of the same
code (a digest of the checkout's Python files) and, where there are
any, the same seed.
The line before the result carries host context and the named
figures of the workload.

Workloads and what their end-to-end metrics mean:

- ``stream_live`` (``stream.py``): ``latency_typical_s`` and
  ``latency_tail_s`` are the median and 90th percentile of a live
  file's visible latency over a live phase of ``--seconds`` (a file
  every 0.12 s, so from 12 s on at least ten samples lie beyond the
  90th percentile, though the files one serving batch commits share its
  commit time); ``batch_work_s`` is the catch-up time of the
  backlog, mostly the pipeline's fixed restart cost
  (``catchup_rows_per_s`` is backlog rows over it).
- ``corpus_analytics`` (``corpus.py``): each headline query runs once,
  whatever ``--seconds`` says, and its latency is plan build plus
  noop-sink execution. One sample per query supports no percentile
  above the median, so ``latency_typical_s`` is their geometric mean
  (``analytics_geomean_s``), ``latency_tail_s`` the mean latency of the
  slowest quarter of them and ``batch_work_s`` their total
  (``analytics_total_s``).

Every workload reports ``setup_s``: process start to the first timed
operation. ``memory.peak_pss_mb`` is the resident memory of this Python
process, the JVM and the Python workers up to the end of the measured
window, summed as proportional set size so pages the forked workers
share count once, sampled every 0.25 s. It is a per-layer number: the
JVM grows its heap lazily, so it swings by a third between runs of the
same code. A check that fails makes the run exit 1 after printing its
result.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402  (first: it notes the process start)

END_TO_END = {
    "setup_s": "s",
    "latency_typical_s": "s",
    "latency_tail_s": "s",
    "batch_work_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "memory.peak_pss_mb": "MB",
    "plan.build_s": "s",
    "spark.idle_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.job_wall_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "streaming.ingest.batches": "count",
    "streaming.serving.batches": "count",
    "streaming.ingest.input_rows": "rows",
    "streaming.serving.input_rows": "rows",
    "streaming.serving.state_rows": "rows",
    "streaming.serving.state_memory_bytes": "bytes",
    "streaming.serving.rows_dropped_by_watermark": "rows",
    "sources.file.backlog_files_max": "count",
    "sinks.datalake.files_written": "count",
    "sinks.datalake.bytes_written": "bytes",
    "sinks.serving.bytes_rewritten": "bytes",
    "sinks.serving.table_bytes": "bytes",
    "sinks.serving.rewrite_amplification": "ratio",
}


def _workloads() -> dict:
    import corpus
    import stream

    return {"stream_live": stream.run, "corpus_analytics": corpus.run}


def _event_log_layers(r: harness.Run) -> dict:
    """Window totals, per-query and per-module job totals from the event log."""
    jobs = harness.read_event_log(r.path("eventlog"))
    t0, t1 = r.window
    in_window = [j for j in jobs.values() if t0 <= j["start"] <= t1]
    totals = harness.job_totals(in_window)
    for k, v in totals.items():
        r.layers[f"spark.{k}"] = v
    r.layers["spark.idle_s"] = (t1 - t0) - totals["job_wall_s"]

    detail: dict = {"by_tag": {t: harness.job_totals(js) for t, js in harness.tagged(jobs, "pb:").items()}}
    modules: dict[str, dict] = {}
    for rec in r.trace_extra.get("queries", []):
        js = [j for j in jobs.values() if rec["tag"] in j["tags"]]
        rec.update(harness.job_totals(js))
        m = modules.setdefault(rec["module"], {})
        for k in ("plan_build_s", "execute_s", "jobs", "tasks", "task_cpu_s",
                  "shuffle_bytes", "spill_bytes"):
            m[k] = m.get(k, 0) + rec[k]
    for mod, vals in modules.items():
        for k, v in vals.items():
            r.layers[f"{mod}.{k}"] = v
    streams: dict[str, list] = {}
    for j in jobs.values():
        if j["query_id"] is not None:
            streams.setdefault(f"{j['query_id']}:{j['batch_id']}", []).append(j)
    detail["stream_batches"] = {k: harness.job_totals(v) for k, v in streams.items()}
    return detail


def code_fingerprint() -> str:
    """Digest of every Python source file in the checkout. It stands in
    for the commit, since the checkout need not be a git repository."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(harness.ROOT):
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d != "__pycache__")
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, fn)
            h.update(os.path.relpath(path, harness.ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _overhead(r: harness.Run, code: str) -> dict:
    """Traced end-to-end numbers minus the median of the untraced runs of
    the same code: those with the same seed if there are any, else all."""
    runs = []
    for fn in glob.glob(os.path.join(harness.OUT_DIR, f"result-{r.workload}-t0-*.json")):
        with open(fn) as f:
            res = json.load(f)
        if res.get("code") == code:
            runs.append(res)
    same_seed = [res for res in runs if res["seed"] == r.seed]
    base_runs, baseline = (same_seed, "same code and seed") if same_seed else (runs, "same code")
    if not base_runs:
        return {"note": "no untraced run of this code and workload in .perfbench_out"}
    out: dict = {
        k: r.metrics[k] - statistics.median(res["metrics"][k]["value"] for res in base_runs)
        for k in END_TO_END
    }
    out.update(baseline=baseline, untraced_runs=len(base_runs))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_live", "corpus_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    workloads = _workloads()
    import bench  # noqa: F401  (fail fast outside a full checkout)
    import __spark_entry__  # noqa: F401

    r = harness.Run(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        workloads[a.workload](r)
        r.stop_spark()
        detail = _event_log_layers(r) if r.trace else {}
        os.makedirs(harness.OUT_DIR, exist_ok=True)
        stem = f"{a.workload}-t{a.trace}-{a.seed}-{os.getpid()}"
        e2e = {k: {"value": r.metrics[k], "unit": u} for k, u in END_TO_END.items()}
        code = code_fingerprint()
        with open(os.path.join(harness.OUT_DIR, f"result-{stem}.json"), "w") as f:
            json.dump({"code": code, "seed": a.seed, "metrics": e2e, "info": r.info}, f)
        if r.trace:
            r.info["tracing_overhead"] = _overhead(r, code)
            with open(os.path.join(harness.OUT_DIR, f"trace-{stem}.json"), "w") as f:
                json.dump({
                    "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "info": r.info, "end_to_end": e2e, "layers": r.layers,
                    "self_time_by_layer": r.tracer.self_time_by_layer(),
                    "spans": r.tracer.spans, "jobs": detail, **r.trace_extra,
                }, f)
        for line in r.failures:
            print(f"FAILED {line}", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "nproc": harness.nproc(),
                          **r.info}))
        metrics = (
            {k: {"value": r.layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
            if r.trace else e2e
        )
        print(json.dumps({
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": metrics,
        }))
        return 0 if r.failed == 0 else 1
    finally:
        r.close()


if __name__ == "__main__":
    sys.exit(main())
