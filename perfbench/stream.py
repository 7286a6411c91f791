"""``stream_live``: the reference's own pipeline, ``jobs.run_pipeline``
over the JSON file source, measured in two phases.

1. Catch-up: the backlog is drained with ``available_now=True``, as
   after the reference's hourly restart. Timed from the call until
   both queries terminate.
2. Live: the pipeline restarts on the same checkpoints while a
   separate generator process publishes files on a fixed schedule.
   A file's visible latency runs from its due time to the commit of
   the serving batch that read it, whose upsert has by then rewritten
   the serving table. The serving checkpoint says which batch read
   each file, and its commit log's file times say when each batch
   committed.

Checks: the datalake holds exactly the generated records, the serving
table equals the batch ``hourly_topic_aggregate`` over the accepted
events, and the hours-late events show up as rows dropped by the
watermark.
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.streaming import StreamingQueryListener

import wiregen
from harness import Run, parquet_bytes, quantile

SETTLE_TIMEOUT_S = 60.0
POLL_S = 0.05
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def source_log(ckpt: str) -> dict[str, int]:
    """file basename -> id of the query batch that read it.

    The file source numbers its own log (``sources/0``), independently
    of the query's batches: a batch that finds no new file adds no
    entry. Each ``offsets/N`` entry records the source log offset that
    batch N read up to, which maps the one numbering onto the other."""
    src = os.path.join(ckpt, "sources", "0")
    logged: dict[str, int] = {}
    for fn in os.listdir(src) if os.path.isdir(src) else []:
        for e in _log_entries(os.path.join(src, fn)):
            logged[os.path.basename(e["path"])] = int(e["batchId"])
    ends: dict[int, int] = {}
    off = os.path.join(ckpt, "offsets")
    for fn in os.listdir(off) if os.path.isdir(off) else []:
        if fn.isdigit():
            entries = _log_entries(os.path.join(off, fn))
            if len(entries) == 2:  # metadata, then the one source's offset
                ends[int(fn)] = int(entries[1]["logOffset"])
    out = {}
    for name, log_offset in logged.items():
        batch = min((b for b, end in ends.items() if end >= log_offset), default=None)
        if batch is not None:
            out[name] = batch
    return out


def _log_entries(path: str) -> list[dict]:
    """JSON lines after the version header of a checkpoint log file; empty
    for hidden files and for a file caught mid-write."""
    if os.path.basename(path).startswith("."):
        return []
    try:
        with open(path) as f:
            return [json.loads(line) for line in f.read().splitlines()[1:]]
    except (OSError, ValueError):
        return []


def log_times(ckpt: str, log: str) -> dict[int, float]:
    """batch id -> mtime of its entry in the ``offsets`` or ``commits`` log."""
    d = os.path.join(ckpt, log)
    out: dict[int, float] = {}
    if os.path.isdir(d):
        for fn in os.listdir(d):
            if fn.isdigit():
                out[int(fn)] = os.stat(os.path.join(d, fn)).st_mtime
    return out


def attribute_latency(
    manifest: list[dict], taken: dict[str, int], commits: dict[int, float]
) -> dict[int, float]:
    """Live file index -> seconds from its due time to the commit of the
    batch that took it. Files not yet committed are left out."""
    out = {}
    for m in manifest:
        b = taken.get(wiregen.live_file_name(m["k"]))
        if b is not None and b in commits:
            out[m["k"]] = commits[b] - m["due"]
    return out


def backlog_by_batch(
    manifest: list[dict], taken: dict[str, int], offsets: dict[int, float]
) -> dict[float, int]:
    """Batch start time -> files published but not yet taken by then."""
    return {
        t: sum(
            1 for m in manifest
            if m["published"] <= t and taken.get(wiregen.live_file_name(m["k"]), 1 << 30) >= b
        )
        for b, t in offsets.items()
    }


def _committed(ckpt: str, names: set[str]) -> bool:
    """True once every named file sits in a committed batch of ``ckpt``."""
    taken = source_log(ckpt)
    commits = log_times(ckpt, "commits")
    return names <= taken.keys() and all(taken[n] in commits for n in names)


class ProgressListener(StreamingQueryListener):
    """Collects per-trigger progress of every query, in memory, with the
    serving table's size after each trigger (the upsert rewrites the
    whole table)."""

    def __init__(self, serving_path: str) -> None:
        self.serving_path = serving_path
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        p["_serving_bytes"] = parquet_bytes(self.serving_path)[1]
        self.events.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _progress_layers(events: list[dict], ids: dict[str, str], out: dict) -> None:
    for label, qid in ids.items():
        evs = [e for e in events if e["id"] == qid]
        out[f"streaming.{label}.batches"] = len(evs)
        out[f"streaming.{label}.input_rows"] = sum(e["numInputRows"] for e in evs)
        for ph in PHASES:
            out[f"streaming.{label}.{ph}_ms"] = sum(
                e.get("durationMs", {}).get(ph, 0) for e in evs
            )
        if label == "serving":
            ops = [op for e in evs for op in e.get("stateOperators", [])]
            last = evs[-1].get("stateOperators", []) if evs else []
            out["streaming.serving.state_rows"] = sum(op["numRowsTotal"] for op in last)
            out["streaming.serving.state_memory_bytes"] = max(
                (op["memoryUsedBytes"] for op in ops), default=0
            )
            out["streaming.serving.rows_dropped_by_watermark"] = sum(
                op.get("numRowsDroppedByWatermark", 0) for op in ops
            )
            out["sinks.serving.bytes_rewritten"] = sum(
                e["_serving_bytes"] for e in evs if e["numInputRows"] > 0
            )


def run(r: Run) -> Run:
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.jobs import PipelineConfig, run_pipeline
    from spark_app_twitter_spark.operators.ingest import parse_tweet_stream
    from spark_app_twitter_spark.streaming.ingest import WIRE
    from spark_app_twitter_spark.streaming.windowed import hourly_topic_aggregate

    src, lake, serving, ckpt = (r.path(p) for p in ("src", "lake", "serving", "ckpt"))
    # The backlog is written while the JVM starts; both are set-up.
    with ThreadPoolExecutor(1) as pool:
        backlog = pool.submit(wiregen.write_backlog, src, r.seed)
        spark = r.start_spark()
        backlog_keys = backlog.result()
    n_files = max(1, round(r.seconds / wiregen.LIVE_INTERVAL_S))
    cfg = dict(file_source_path=src, datalake_path=lake, serving_path=serving,
               checkpoint_root=ckpt)
    listener = None
    if r.trace:
        listener = ProgressListener(serving)
        spark.streams.addListener(listener)

    r.begin_measure()
    # Streaming jobs are attributed through their query and batch ids; a
    # job tag here would be inherited by the stream threads.
    with r.tracer.span("catchup", "streaming"):
        t0 = time.perf_counter()
        for q in run_pipeline(spark, PipelineConfig(available_now=True, **cfg)):
            q.awaitTermination()
        catchup_s = time.perf_counter() - t0

    with r.tracer.span("live", "streaming"):
        queries = run_pipeline(spark, PipelineConfig(**cfg))
        ids = {"ingest": str(queries[0].id), "serving": str(queries[1].id)}
        manifest_path = r.path("manifest.json")
        start = time.time() + 0.5
        gen = subprocess.Popen([
            sys.executable, wiregen.__file__, "--seed", str(r.seed), "--src", src,
            "--stage", r.path("stage"), "--start", repr(start), "--files", str(n_files),
            "--manifest", manifest_path,
        ])
        try:
            gen.wait(timeout=r.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with open(manifest_path) as f:
            manifest = json.load(f)
        names = {wiregen.live_file_name(m["k"]) for m in manifest}
        serving_ckpt, ingest_ckpt = (os.path.join(ckpt, q) for q in ("serving", "ingest"))
        deadline = time.time() + SETTLE_TIMEOUT_S
        while time.time() < deadline and not (
            _committed(serving_ckpt, names) and _committed(ingest_ckpt, names)
        ):
            time.sleep(POLL_S)
        # progress is reported just after a batch commits
        last = max(source_log(serving_ckpt).get(n, -1) for n in names)
        while time.time() < deadline and (queries[1].lastProgress or {}).get("batchId", -1) < last:
            time.sleep(POLL_S)
        recent = queries[1].recentProgress
        for q in queries:
            q.stop()
    measured_s = r.end_measure()

    r.attempted += wiregen.BACKLOG_FILES + len(manifest)
    taken = source_log(serving_ckpt)
    lat = attribute_latency(manifest, taken, log_times(serving_ckpt, "commits"))
    r.check("live files visible", len(lat) == len(manifest),
            f"{len(manifest) - len(lat)} of {len(manifest)} files never committed to serving")
    values = list(lat.values()) or [float("nan")]

    # ---- output checks (outside the timed region) ----
    with r.tracer.span("check", "check", tag="pb:check:stream"):
        live = [wiregen.live_file(r.seed, m["k"]) for m in manifest]
        keys = collections.Counter(backlog_keys)
        keys.update(rec["key"] for rows in live for rec, _ in rows)
        late = {rec["key"] for rows in live for rec, label in rows if label == "late"}
        got = collections.Counter(
            spark.read.parquet(lake).select("key").toArrow().column("key").to_pylist()
        )
        r.check("datalake rows", got == keys,
                f"{sum((got - keys).values())} extra, {sum((keys - got).values())} missing")

        accepted = parse_tweet_stream(spark.read.schema(WIRE).json(src)).where(
            ~F.col("key").isin(*late)
        )
        want = hourly_topic_aggregate(accepted)
        have = spark.read.parquet(serving).select(*want.columns)
        want_rows, have_rows = collections.Counter(want.collect()), collections.Counter(have.collect())
        missing, extra = list((want_rows - have_rows).elements()), list((have_rows - want_rows).elements())
        r.check("serving table", not missing and not extra,
                f"{len(missing)} rows missing, e.g. {missing[:2]}; "
                f"{len(extra)} extra, e.g. {extra[:2]}")

        # Each late event sits alone in its hour window, so it is at least
        # one dropped row however its batch is partially aggregated. That
        # no on-time event was dropped is what the comparison above shows.
        dropped = sum(
            op.numRowsDroppedByWatermark for p in recent for op in p.stateOperators
        )
        r.check("late rows dropped", dropped >= len(late),
                f"{dropped} rows dropped by watermark, {len(late)} late events")

    r.metrics.update({
        "latency_typical_s": quantile(values, 0.5),
        "latency_tail_s": quantile(values, 0.9),
        "batch_work_s": catchup_s,
    })
    n_lake, lake_bytes = parquet_bytes(lake)
    _, table_bytes = parquet_bytes(serving)
    backlog = backlog_by_batch(manifest, taken, log_times(serving_ckpt, "offsets"))
    # a backlog that grows from the first half of the live phase to the
    # second means the offered rate is above what the pipeline sustains
    half = (manifest[0]["due"] + manifest[-1]["due"]) / 2
    r.info.update({
        "catchup_rows_per_s": len(backlog_keys) / catchup_s,
        "visible_latency_p50_s": quantile(values, 0.5),
        "visible_latency_p90_s": quantile(values, 0.9),
        "live_files": len(manifest),
        "live_seconds": measured_s - catchup_s,
        "latency_samples": len(lat),
        "backlog_files_max_first_half": max((n for t, n in backlog.items() if t < half), default=0),
        "backlog_files_max_second_half": max((n for t, n in backlog.items() if t >= half), default=0),
        "generator_lag_s_max": max(m["published"] - m["due"] for m in manifest),
    })
    r.layers.update({
        "sources.file.backlog_files_max": max(backlog.values(), default=0),
        "generator.lag_s_max": r.info["generator_lag_s_max"],
        "sinks.datalake.files_written": n_lake,
        "sinks.datalake.bytes_written": lake_bytes,
        "sinks.serving.table_bytes": table_bytes,
    })
    if listener is not None:
        _progress_layers(listener.events, ids, r.layers)
        r.layers["sinks.serving.rewrite_amplification"] = (
            r.layers["sinks.serving.bytes_rewritten"] / max(1, table_bytes)
        )
        r.layers["plan.build_s"] = sum(
            e.get("durationMs", {}).get("queryPlanning", 0) for e in listener.events
        ) / 1e3
        r.trace_extra["progress"] = listener.events
    r.trace_extra["file_visible_latency_s"] = lat
    return r
