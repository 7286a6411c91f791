"""Run plumbing shared by the workloads.

One ``Run`` per process: an isolated run directory inside the
checkout, the Spark session, host context, a peak-memory sampler over the
whole process tree (Python process, JVM, Python workers), in-memory
spans, and the reader that turns Spark's event log into per-tag job,
task, CPU and shuffle totals. The benchmark only calls the library's
public functions; everything here observes from outside.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

_T_IMPORT = time.perf_counter()


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_AGE_AT_IMPORT = _process_age_s()


def since_process_start() -> float:
    return _AGE_AT_IMPORT + (time.perf_counter() - _T_IMPORT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in values))


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        parent[int(p)] = int(s[s.rindex(")") + 2:].split()[1])
    out, frontier = [root], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def tree_pss_bytes() -> int:
    """Summed proportional set size of a process tree: pages shared
    between forked Python workers count once across the tree."""
    total = 0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the memory of this process tree on a daemon thread."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak = tree_pss_bytes()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak = max(self.peak, tree_pss_bytes())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak / 2**20


def tree_jiffies() -> int:
    """CPU jiffies of a process tree, with the children its members have
    reaped: Hadoop's local file system forks short-lived helpers that
    ``bench.py``'s ``_tree_jiffies`` would count as foreign load."""
    total = 0
    for p in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total


class HostWindow:
    """Host context over a measured window: loadavg at both ends and the
    share of host CPU time spent outside this process tree, computed
    like ``bench.py``'s per-query share."""

    def __init__(self) -> None:
        from bench import _host_jiffies

        self._host = _host_jiffies
        self.load_start = list(os.getloadavg())
        self._h0, self._b0 = _host_jiffies()
        self._t0 = tree_jiffies()

    def close(self) -> dict:
        h1, b1 = self._host()
        t1 = tree_jiffies()
        foreign = max(0, (b1 - self._b0) - (t1 - self._t0))
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": list(os.getloadavg()),
            "foreign_cpu_pct": round(100.0 * foreign / max(1, h1 - self._h0), 2),
        }


class Tracer:
    """Spans kept in memory and written once, with per-layer self time
    (a span's duration minus the part its child spans cover)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = None  # set once the session exists, for job tags
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if (tag and self.spark) else None
        if sc:
            sc.addJobTag(tag)
        try:
            yield
        finally:
            if sc:
                sc.removeJobTag(tag)
            rec["end"] = time.time()
            self._stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], []) if c["end"] is not None]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Run:
    """Process-wide state of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(ROOT, ".perfbench_run", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        # no JVM perf-data files under /tmp, for spark-submit's launcher too
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Python workers import the library from the checkout root.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.rss = RssSampler()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = Tracer(trace)
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.trace_extra: dict = {}
        self.window: tuple[float, float] | None = None
        self._host: HostWindow | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        from spark_app_twitter_spark.session import get_spark

        conf = {
            # the library's 8g default assumes a dedicated host
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # keep the JVM's files inside the run directory
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} "
                f"-Dderby.system.home={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        n = nproc()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{n}]", extra_conf=conf)
        self.layers["session.get_spark_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        self.info["local"] = f"local[{n}]"
        return self.spark

    def begin_measure(self) -> None:
        """Mark the first timed operation: ``setup_s`` ends here."""
        self.metrics["setup_s"] = since_process_start()
        self._host = HostWindow()
        self.window = (time.time(), time.time())

    def end_measure(self) -> float:
        """Close the measured window and the memory sampling (the output
        checks that follow are the benchmark's work, not the engine's);
        return the window's length in seconds."""
        self.window = (self.window[0], time.time())
        self.info["host"] = self._host.close()
        self.layers["memory.peak_pss_mb"] = self.rss.stop()
        self.info["peak_pss_mb"] = self.layers["memory.peak_pss_mb"]
        return self.window[1] - self.window[0]

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {detail}"[:500])

    def check(self, name: str, ok: bool, detail: str) -> None:
        """A wrong output counts as a failed operation."""
        if not ok:
            self.fail(name, detail)

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM to exit; it exits when
        the pipe to its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def close(self) -> None:
        self.stop_spark()
        self.rss.stop()
        shutil.rmtree(self.dir, ignore_errors=True)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Per-job records from every event-log file under ``log_dir``:
    tags, streaming query and batch ids, wall interval, and summed task
    metrics of the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, int] = {}
    for dirpath, _, files in os.walk(log_dir):
        for fn in sorted(files):
            with open(os.path.join(dirpath, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        tags = props.get("spark.job.tags", "")
                        jobs[jid] = {
                            "tags": [t for t in tags.split(",") if t],
                            "query_id": props.get("sql.streaming.queryId"),
                            "batch_id": props.get("streaming.sql.batchId"),
                            "start": ev["Submission Time"] / 1000.0,
                            "end": None, "stages": 0, "tasks": 0,
                            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                            "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        sid = ev["Stage Info"]["Stage ID"]
                        if sid in stage_job:
                            stages[sid] = stage_job[sid]
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if jid is None or jid not in jobs or not m:
                            continue
                        j = jobs[jid]
                        j["tasks"] += 1
                        j["run_s"] += m.get("Executor Run Time", 0) / 1e3
                        j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for sid, jid in stages.items():
        jobs[jid]["stages"] += 1
    return jobs


def job_totals(jobs: list[dict]) -> dict:
    """Summed counters of a set of jobs plus the wall time during which
    at least one of them was running."""
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_run_s": sum(j["run_s"] for j in jobs),
        "task_cpu_s": sum(j["cpu_s"] for j in jobs),
        "gc_s": sum(j["gc_s"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
        "input_bytes": sum(j["input_bytes"] for j in jobs),
        "job_wall_s": _union_length(
            [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
        ),
    }


def tagged(jobs: dict, prefix: str) -> dict[str, list[dict]]:
    """Jobs grouped by each of their tags that starts with ``prefix``."""
    out: dict[str, list[dict]] = {}
    for j in jobs.values():
        for t in j["tags"]:
            if t.startswith(prefix):
                out.setdefault(t[len(prefix):], []).append(j)
    return out


def parquet_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet data files under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size
