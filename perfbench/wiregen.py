"""Kafka-wire JSON file generator for the ``stream_live`` workload.

File contents depend only on (seed, file kind, file index), so the
benchmark recomputes every published event for its output checks
without talking to the generator process. Each line is one wire record
``{"key", "value", "topic"}`` whose ``value`` is a Twitter API v2
payload, the shape ``jobs.run_pipeline`` reads from its file source.

Event time runs on its own clock: the backlog covers ``BACKLOG_SPAN_S``
of event time, and each live file advances the clock by
``LIVE_INTERVAL_S * EVENT_SPEED`` seconds. Within a file:

- ``JITTER_SHARE`` of events are out of order, up to ``JITTER_MAX_S``
  behind the clock. The pipeline's watermark is 10 minutes behind the
  newest event of an earlier batch, and earlier batches only hold
  earlier files, so these are never dropped.
- ``DUP_SHARE`` of events are emitted twice (a producer retry).
- ``MALFORMED_SHARE`` of values are not JSON.
- Live files from ``LATE_FROM`` on carry one event hours before the
  stream's start, each in its own hour window. Every batch after the
  backlog has a watermark past it, so it is dropped whatever the batch
  boundaries are.

Run as a script, it publishes the live files on a fixed schedule (an
open loop that does not slow when the pipeline does): each file is
written to a staging directory and renamed into the source directory
at its due time, and a manifest records the due and publish times.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time

TOPICS = ("Zelensky", "Putin", "Biden", "NATO", "NoFlyZone")
WORDS = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast the row agg key query a scan batch"
).split()
START_S = 1647129600.0  # 2022-03-13T00:00:00Z

# Sizing, measured on a 4-CPU host (one run each, seed 1). Draining a
# backlog with ``available_now=True`` costs about 16 s whatever its size
# (query start, the first serving batch's fixed cost, and the no-data
# batch that advances the watermark) plus about 16 us a record: 20k
# records took 16.2 s, 75k 17.6 s, 150k 20.1 s and 300k 20.8 s. No
# backlog the run budget can generate makes the per-record part
# dominate, so the catch-up time is mostly restart cost; 100k records
# give the per-record part about a tenth of it, and each further 100k
# adds ~4 s to a run (generation and catch-up).
BACKLOG_FILES = 40
BACKLOG_EVENTS_PER_FILE = 2500
BACKLOG_SPAN_S = 18 * 3600.0

# 1,000 events/s, the live rate the pipeline was sized at: a small share
# of the ~60k records/s the pipeline drains past its fixed cost. Files
# come every 0.12 s, so a 12 s live phase yields 100 latency samples.
LIVE_INTERVAL_S = 0.12
LIVE_EVENTS_PER_FILE = 120
EVENT_SPEED = 240.0  # event seconds per wall second in the live phase
LATE_FROM = 10

JITTER_SHARE = 0.2
JITTER_MAX_S = 240.0
DUP_SHARE = 0.01
MALFORMED_SHARE = 0.01


def _iso(ts: float) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )[:-3] + "Z"


def _record(eid: int, ts: float, rng: random.Random, malformed: bool) -> dict:
    topic = TOPICS[rng.randrange(len(TOPICS))]
    text = " ".join(rng.choices(WORDS, k=rng.randint(5, 20)))
    if malformed:
        value = '{"data": {"id": "%d", "created_at": ' % eid
    else:
        value = json.dumps({
            "data": {"id": str(eid), "created_at": _iso(ts), "text": text},
            "matching_rules": [{"id": str(eid % 97), "tag": topic}],
        })
    return {"key": f"{topic[:2].upper()}{eid}", "value": value, "topic": topic}


def _file(seed: int, kind: str, k: int, n: int, clock0: float, span: float,
          late: bool) -> list[tuple[dict, str]]:
    """(record, label) pairs of one file, label one of ``""``, ``"late"``
    and ``"malformed"``; duplicates appear twice."""
    rng = random.Random(f"{seed}:{kind}:{k}")
    base_id = (1 if kind == "backlog" else 2) * 10**9 + k * 10**5
    out: list[tuple[dict, str]] = []
    for i in range(n):
        ts = clock0 + span * i / n
        if rng.random() < JITTER_SHARE:
            ts -= rng.uniform(0.0, JITTER_MAX_S)
        malformed = rng.random() < MALFORMED_SHARE
        rec = _record(base_id + i, ts, rng, malformed)
        label = "malformed" if malformed else ""
        out.append((rec, label))
        if rng.random() < DUP_SHARE:
            out.append((rec, label))
    if late:
        ts = START_S - (k + 1) * 3600.0 - 1800.0
        out.append((_record(base_id + n, ts, rng, False), "late"))
    return out


def backlog_file(seed: int, k: int) -> list[tuple[dict, str]]:
    span = BACKLOG_SPAN_S / BACKLOG_FILES
    return _file(seed, "backlog", k, BACKLOG_EVENTS_PER_FILE, START_S + k * span, span, False)


def live_clock0() -> float:
    return START_S + BACKLOG_SPAN_S


def live_file(seed: int, k: int) -> list[tuple[dict, str]]:
    span = LIVE_INTERVAL_S * EVENT_SPEED
    return _file(seed, "live", k, LIVE_EVENTS_PER_FILE, live_clock0() + k * span, span,
                 k >= LATE_FROM)


def live_file_name(k: int) -> str:
    return f"live-{k:05d}.json"


def _write(path: str, rows: list[tuple[dict, str]]) -> None:
    with open(path, "w") as f:
        for rec, _ in rows:
            f.write(json.dumps(rec) + "\n")


def write_backlog(src: str, seed: int) -> list[str]:
    """Write the backlog files into ``src``; return the records' keys,
    a duplicated record's twice."""
    os.makedirs(src, exist_ok=True)
    keys = []
    for k in range(BACKLOG_FILES):
        rows = backlog_file(seed, k)
        _write(os.path.join(src, f"backlog-{k:05d}.json"), rows)
        keys += [rec["key"] for rec, _ in rows]
    return keys


def publish(seed: int, src: str, stage: str, start: float, files: int) -> list[dict]:
    """Open-loop publisher: file k is due at ``start + k * LIVE_INTERVAL_S``."""
    os.makedirs(stage, exist_ok=True)
    manifest = []
    for k in range(files):
        due = start + k * LIVE_INTERVAL_S
        rows = live_file(seed, k)
        tmp = os.path.join(stage, live_file_name(k))
        _write(tmp, rows)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(tmp, os.path.join(src, live_file_name(k)))
        manifest.append({"k": k, "due": due, "published": time.time(), "records": len(rows)})
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of file 0")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--manifest", required=True)
    a = ap.parse_args(argv)
    manifest = publish(a.seed, a.src, a.stage, a.start, a.files)
    with open(a.manifest, "w") as f:
        json.dump(manifest, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
