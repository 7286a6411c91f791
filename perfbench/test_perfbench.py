"""The benchmark's own tests: latency attribution, the oracle check
rejecting a corrupted result, generator lateness, the tracing-overhead
baseline, and a tiny ``stream_live`` run end to end (sf0.001 and a
3-second live phase).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import calendar
import json
import os
import time

import pytest

import corpus
import datagen
import harness
import run as bench_run
import stream
import wiregen


def _write_log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(e) for e in entries))


def test_source_log_attributes_files_to_the_batch_that_took_them(tmp_path):
    ckpt = tmp_path / "ckpt"
    for d in ("sources/0", "offsets", "commits"):
        (ckpt / d).mkdir(parents=True)
    src = "file:///data/src/"

    def entry(k, log_offset):
        return {"path": src + wiregen.live_file_name(k), "timestamp": 1, "batchId": log_offset}

    _write_log(str(ckpt / "sources" / "0" / "0"), [entry(0, 0)])
    # a compacted log restates earlier entries
    _write_log(str(ckpt / "sources" / "0" / "1.compact"), [entry(0, 0), entry(1, 1), entry(2, 1)])
    # query batch 1 found no new file, so source log offset 1 is batch 2
    for b, log_offset in ((0, 0), (1, 0), (2, 1)):
        _write_log(str(ckpt / "offsets" / str(b)), [{"batchWatermarkMs": 0}, {"logOffset": log_offset}])
    for b, t in ((0, 20.0), (1, 22.0), (2, 25.0)):
        p = ckpt / "commits" / str(b)
        p.write_text("v1\n{}")
        os.utime(p, (t, t))
    taken = stream.source_log(str(ckpt))
    assert taken == {wiregen.live_file_name(k): b for k, b in ((0, 0), (1, 2), (2, 2))}
    manifest = [{"k": k, "due": 19.0 + k} for k in range(4)]  # file 3 never taken
    lat = stream.attribute_latency(manifest, taken, stream.log_times(str(ckpt), "commits"))
    assert lat == pytest.approx({0: 1.0, 1: 5.0, 2: 4.0})


def test_generator_is_deterministic_and_late_events_trail_every_watermark():
    assert wiregen.live_file(5, 12) == wiregen.live_file(5, 12)
    assert wiregen.live_file(5, 12) != wiregen.live_file(6, 12)
    # the earliest watermark a live batch can see: newest backlog event - 10 min
    min_watermark = wiregen.START_S + wiregen.BACKLOG_SPAN_S - wiregen.BACKLOG_SPAN_S / wiregen.BACKLOG_FILES - 600
    assert wiregen.JITTER_MAX_S < 600
    span = wiregen.LIVE_INTERVAL_S * wiregen.EVENT_SPEED
    for k in range(wiregen.LATE_FROM + 3):
        rows = wiregen.live_file(1, k)
        labels = [label for _, label in rows]
        assert labels.count("late") == (1 if k >= wiregen.LATE_FROM else 0)
        clock0 = wiregen.live_clock0() + k * span
        for rec, label in rows:
            if label == "malformed":
                continue
            ts = json.loads(rec["value"])["data"]["created_at"]
            t = calendar.timegm(time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S"))
            if label == "late":
                assert t < min_watermark - 3600
            else:
                assert clock0 - wiregen.JITTER_MAX_S - 1 <= t < clock0 + span


def test_overhead_baseline_is_untraced_runs_of_the_same_code(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "OUT_DIR", str(tmp_path))

    def result(name, code, seed, value):
        metrics = {k: {"value": value, "unit": "s"} for k in bench_run.END_TO_END}
        with open(tmp_path / f"result-stream_live-{name}.json", "w") as f:
            json.dump({"code": code, "seed": seed, "metrics": metrics}, f)

    result("t0-1-1", "new", 1, 2.0)
    result("t0-2-2", "new", 2, 4.0)
    result("t0-1-3", "old", 1, 100.0)  # another commit
    result("t1-1-4", "new", 1, 100.0)  # a traced run
    traced = harness.Run.__new__(harness.Run)
    traced.workload, traced.seed = "stream_live", 1
    traced.metrics = dict.fromkeys(bench_run.END_TO_END, 5.0)
    out = bench_run._overhead(traced, "new")
    assert out["baseline"] == "same code and seed" and out["untraced_runs"] == 1
    assert out["setup_s"] == 3.0
    traced.seed = 9
    out = bench_run._overhead(traced, "new")
    assert out["baseline"] == "same code" and out["untraced_runs"] == 2
    assert out["batch_work_s"] == 2.0
    assert "note" in bench_run._overhead(traced, "other")


def test_publisher_runs_on_schedule(tmp_path):
    src, stage = tmp_path / "src", tmp_path / "stage"
    src.mkdir()
    start = time.time() + 0.2
    manifest = wiregen.publish(1, str(src), str(stage), start, 4)
    assert [m["due"] for m in manifest] == [start + k * wiregen.LIVE_INTERVAL_S for k in range(4)]
    assert all(0 <= m["published"] - m["due"] < 0.5 for m in manifest)
    assert sorted(os.listdir(src)) == [wiregen.live_file_name(k) for k in range(4)]


def test_oracle_check_rejects_a_corrupted_result(run):
    from pyspark.sql import functions as F

    import __spark_entry__

    sf_dir = datagen.write(run.path("sf0.001"), 0.001, run.seed)
    df = __spark_entry__.queries()["ingest_parse_events"](run.spark, sf_dir)
    corpus.check_parity(run, {"ingest_parse_events": df}, sf_dir)
    assert run.failed == 0, run.failures
    bad = df.withColumn("value", F.when(F.col("event_id") == 0, F.col("value") + 1)
                        .otherwise(F.col("value")))
    corpus.check_parity(run, {"ingest_parse_events": bad}, sf_dir)
    assert run.failed == 1 and "ingest_parse_events" in run.failures[0]
    run.failed, run.failures = 0, []


def test_tiny_stream_end_to_end(run, monkeypatch):
    monkeypatch.setattr(wiregen, "BACKLOG_FILES", 3)
    monkeypatch.setattr(wiregen, "BACKLOG_EVENTS_PER_FILE", 200)
    stream.run(run)
    assert run.failed == 0, run.failures
    n_live = round(run.seconds / wiregen.LIVE_INTERVAL_S)
    assert run.info["latency_samples"] == n_live
    assert run.attempted == 3 + n_live
    assert 0 < run.metrics["latency_typical_s"] <= run.metrics["latency_tail_s"]
