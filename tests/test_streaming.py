"""Structured Streaming tests: file-sourced ingest with availableNow,
exactly-once restart, watermark dedup, and the windowed serving upsert
(SURVEY §5.3)."""

import datetime
import glob
import json
import os

from pyspark.sql import functions as F

from spark_app_twitter_spark.operators.ingest import parse_tweet_stream
from spark_app_twitter_spark.sources.parquet import read_datalake_hour
from spark_app_twitter_spark.sources.sinks import write_upsert_stream
from spark_app_twitter_spark.streaming import ingest as sing
from spark_app_twitter_spark.streaming import windowed


def _tweet(i: int, topic: str, created: str, text: str) -> dict:
    return {
        "key": f"{topic[:2].upper()}{i}",
        "value": json.dumps(
            {
                "data": {"id": str(i), "created_at": created, "text": text},
                "matching_rules": [{"id": "r1", "tag": topic}],
            }
        ),
        "topic": topic,
    }


def _write_fixture(path: str, rows: list[dict], name: str = "part0.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


FIXTURE = [
    _tweet(1, "Zelensky", "2022-03-13T14:21:09.000Z", "fast peace talks"),
    _tweet(2, "Putin", "2022-03-13T14:45:00.000Z", "slow big advance"),
    _tweet(3, "Biden", "2022-03-13T15:05:30.000Z", "small fast meeting"),
    _tweet(4, "NATO", "2022-03-14T00:10:00.000Z", "the alliance is big"),
    # malformed JSON value -> from_json null path
    {"key": "XX5", "value": "{not json", "topic": "NATO"},
]


def test_ingest_stream_partitions_and_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(src, FIXTURE)

    q = sing.ingest_stream(
        sing.read_json_stream(spark, src), lake, ckpt, available_now=True
    )
    q.awaitTermination(120)

    out = spark.read.parquet(lake)
    # hive partition layout date=/hour= exists and prunes
    assert set(out.columns) >= {"key", "created_at", "text", "topic", "date", "hour"}
    assert out.count() == 5  # malformed row lands with null parsed fields
    hour14 = read_datalake_hour(spark, lake, "2022-03-13", "14")
    assert hour14.count() == 2
    # partition-pruned scan: only the matching directory is read
    plan = hour14._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # exactly-once: re-running the drained query adds nothing
    q2 = sing.ingest_stream(
        sing.read_json_stream(spark, src), lake, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == 5

    # new data is picked up incrementally
    _write_fixture(
        src,
        [_tweet(6, "Biden", "2022-03-14T01:00:00.000Z", "a small win")],
        name="part1.json",
    )
    q3 = sing.ingest_stream(
        sing.read_json_stream(spark, src), lake, ckpt, available_now=True
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(lake).count() == 6


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    rows = FIXTURE[:3] + [FIXTURE[0], FIXTURE[1]]  # duplicate keys ZE1, PU2
    _write_fixture(src, rows)

    parsed = parse_tweet_stream(sing.read_json_stream(spark, src))
    deduped = windowed.dedup_by_key(parsed, keys=["key"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT key FROM dedup_sink").collect()
    keys = sorted(r.key for r in got)
    assert keys == ["BI3", "PU2", "ZE1"]


def test_hourly_serving_upsert_and_idempotence(spark, tmp_path):
    src = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(src, FIXTURE[:4])

    parsed = parse_tweet_stream(sing.read_json_stream(spark, src))
    q = windowed.run_hourly_serving(
        parsed, serving, ckpt, available_now=True
    )
    q.awaitTermination(180)

    table = spark.read.parquet(serving)
    rows = {(str(r.window_start), r.topic): r for r in table.collect()}
    # 4 tweets in 3 distinct (hour, topic) cells ... each tweet its own topic -> 4 cells
    assert len(rows) == 4
    z = rows[("2022-03-13 14:00:00", "Zelensky")]
    assert z.counts == 1 and z.positivity_rate == 1.0
    p = rows[("2022-03-13 14:00:00", "Putin")]
    assert p.positivity_rate == 0.0
    # emotion pivot columns fixed & filled
    assert sum(z[e] for e in windowed.EMOTIONS) == z.counts

    # replay the same source into the same serving table via a fresh
    # checkpoint: upsert keys make it idempotent (no duplicate cells)
    q2 = windowed.run_hourly_serving(
        parsed, serving, str(tmp_path / "ckpt2"), available_now=True
    )
    q2.awaitTermination(180)
    assert spark.read.parquet(serving).count() == 4


def test_serving_trigger_evaluates_its_batch_once(spark, tmp_path):
    """A foreachBatch frame is RDD-backed: each reference the upsert
    makes to it re-runs the stateful aggregation, state-store commit
    included, and adds its operator metrics again. Evaluated once, a
    trigger drops one row per late event and updates one state row per
    changed cell."""
    src = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    # Rows count as late against the previous batch's watermark, so the
    # late events ride in the third batch, behind the 16:20 watermark
    # the first batch's maximum sets for the second.
    first = [
        _tweet(1, "Zelensky", "2022-03-13T14:21:09.000Z", "fast peace talks"),
        _tweet(2, "NATO", "2022-03-13T16:30:00.000Z", "the alliance is big"),
    ]
    second = [_tweet(3, "NATO", "2022-03-13T16:20:00.000Z", "a big deal")]
    # each sits alone in its hour cell, so it is one row after partial
    # aggregation
    late = [
        _tweet(10 + h, "Biden", f"2022-03-13T{h:02d}:05:00.000Z", "old news")
        for h in (9, 10, 11)
    ]
    on_time = [
        _tweet(20, "Zelensky", "2022-03-13T16:40:00.000Z", "a small win"),
        _tweet(21, "Zelensky", "2022-03-13T16:41:00.000Z", "a big win"),
        _tweet(22, "Putin", "2022-03-13T16:45:00.000Z", "slow advance"),
        _tweet(23, "NATO", "2022-03-13T16:50:00.000Z", "fast summit"),
    ]
    changed_cells = 3  # the 16:00 cells of Zelensky, Putin and NATO
    # the file source takes the oldest file first
    for i, rows in enumerate((first, second, late + on_time)):
        _write_fixture(src, rows, name=f"part{i}.json")
        mtime = 1_600_000_000 + i
        os.utime(os.path.join(src, f"part{i}.json"), (mtime, mtime))

    stream = (
        spark.readStream.schema(sing.WIRE).option("maxFilesPerTrigger", 1).json(src)
    )
    q = windowed.run_hourly_serving(
        parse_tweet_stream(stream), serving, str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)

    progress = {p.batchId: p for p in q.recentProgress}
    assert progress[2].numInputRows == len(late) + len(on_time)
    dropped = sum(
        op.numRowsDroppedByWatermark for p in q.recentProgress for op in p.stateOperators
    )
    assert dropped == len(late)
    assert sum(op.numRowsUpdated for op in progress[2].stateOperators) == changed_cells
    cells = {
        (str(r.window_start), r.topic): r.counts
        for r in spark.read.parquet(serving).collect()
    }
    assert cells == {
        ("2022-03-13 14:00:00", "Zelensky"): 1,
        ("2022-03-13 16:00:00", "NATO"): 3,
        ("2022-03-13 16:00:00", "Zelensky"): 2,
        ("2022-03-13 16:00:00", "Putin"): 1,
    }


def _state_widths(q) -> set[int]:
    return {
        op.numShufflePartitions for p in q.recentProgress for op in p.stateOperators
    }


def _serving_cells(rows) -> dict:
    return {(str(r.window_start), r.topic): tuple(r) for r in rows}


def test_fresh_serving_query_runs_one_wave_of_state_tasks(spark, tmp_path):
    """A fresh serving checkpoint records the default parallelism as
    its state width, whatever the session width; the session's own
    width is left as it was, and the upsert writes one file."""
    src = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    _write_fixture(src, FIXTURE[:4])
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        q = windowed.run_hourly_serving(
            parse_tweet_stream(sing.read_json_stream(spark, src)),
            serving, str(tmp_path / "ckpt"), available_now=True,
        )
        assert spark.conf.get(key) == "7"
        q.awaitTermination(180)
    finally:
        spark.conf.set(key, prev)
    assert _state_widths(q) == {spark.sparkContext.defaultParallelism}
    assert len(glob.glob(os.path.join(serving, "part-*.parquet"))) == 1


def test_serving_checkpoint_restarts_at_its_recorded_width(spark, tmp_path):
    """A checkpoint created at another width keeps it on restart
    through run_hourly_serving, and the table stays correct."""
    src = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    ckpt = str(tmp_path / "ckpt")
    _write_fixture(src, FIXTURE[:4])
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        q = write_upsert_stream(
            windowed.hourly_topic_aggregate(
                parse_tweet_stream(sing.read_json_stream(spark, src))
            ),
            serving, ckpt, keys=["window_start", "topic"],
            trigger_available_now=True,
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set(key, prev)
    assert _state_widths(q) == {7}

    _write_fixture(
        src,
        [_tweet(6, "Biden", "2022-03-14T01:00:00.000Z", "a small win")],
        name="part1.json",
    )
    q2 = windowed.run_hourly_serving(
        parse_tweet_stream(sing.read_json_stream(spark, src)),
        serving, ckpt, available_now=True,
    )
    q2.awaitTermination(180)
    assert _state_widths(q2) == {7}
    batch = windowed.hourly_topic_aggregate(
        parse_tweet_stream(spark.read.schema(sing.WIRE).json(src))
    )
    got = _serving_cells(spark.read.parquet(serving).collect())
    assert len(got) == 5
    assert got == _serving_cells(batch.collect())


def test_streaming_agg_matches_batch(spark, tmp_path):
    """Stream(availableNow) and batch over the same input agree —
    incremental execution must not change semantics."""
    src = str(tmp_path / "src")
    _write_fixture(src, FIXTURE[:4])

    parsed_stream = parse_tweet_stream(sing.read_json_stream(spark, src))
    # complete mode: emit every window regardless of watermark closure,
    # so the comparison covers the still-open tail window too
    q = (
        windowed.hourly_topic_aggregate(parsed_stream)
        .writeStream.format("memory")
        .queryName("agg_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (str(r.window_start), r.topic): (r.positivity_rate, r.counts)
        for r in spark.sql("SELECT * FROM agg_sink").collect()
    }

    batch_parsed = parse_tweet_stream(
        spark.read.schema(sing.WIRE).json(src)
    )
    batched = {
        (str(r.window_start), r.topic): (r.positivity_rate, r.counts)
        for r in windowed.hourly_topic_aggregate(batch_parsed).collect()
    }
    assert streamed == batched


def test_stateful_running_stats_across_microbatches(spark, tmp_path):
    """applyInPandasWithState accumulates per-key state across
    micro-batches (maxFilesPerTrigger=1 forces multiple batches)."""
    import json as _json

    from pyspark.sql import types as T

    from spark_app_twitter_spark.streaming.stateful import running_topic_stats

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [("a", 1.0), ("a", 2.0), ("b", 10.0)],
        [("a", 3.0), ("b", 30.0), ("b", 2.0)],
    ]
    for i, rows in enumerate(batches):
        with open(os.path.join(src, f"b{i}.json"), "w") as f:
            for t, v in rows:
                f.write(_json.dumps({"topic": t, "value": v}) + "\n")

    schema = T.StructType(
        [T.StructField("topic", T.StringType()), T.StructField("value", T.DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        running_topic_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM stateful_sink ORDER BY running_count"
    ).collect()
    # last emission per topic must equal the full-stream aggregate
    last = {}
    for r in rows:
        last[r.topic] = (r.running_count, r.running_total)
    assert last["a"] == (3, 6.0)
    assert last["b"] == (3, 42.0)
    # and intermediate state was emitted too (more than one row per key)
    assert len(rows) >= 3


def test_salted_aggregate_matches_plain(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions.skew import salted_sum_count
    from spark_app_twitter_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(12,2)")
    salted = {
        r.event_type: (float(r.total), r.counts)
        for r in salted_sum_count(
            ev, ["event_type"], val, salt=8, salt_on="event_id"
        ).collect()
    }
    plain = {
        r.event_type: (float(r.total), r.counts)
        for r in ev.groupBy("event_type")
        .agg(F.sum(val).alias("total"), F.count(F.lit(1)).alias("counts"))
        .collect()
    }
    assert salted == plain


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with watermarks + time-bound condition —
    Spark buffers both sides' state only within the interval bound."""
    import json as _json

    from pyspark.sql import types as T

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        {"event_id": 1, "kind": "purchase", "user_id": 7, "ts": "2024-01-01T10:00:00"},
        {"event_id": 2, "kind": "error", "user_id": 7, "ts": "2024-01-01T10:04:00"},
        {"event_id": 3, "kind": "error", "user_id": 7, "ts": "2024-01-01T10:20:00"},
        {"event_id": 4, "kind": "error", "user_id": 9, "ts": "2024-01-01T10:01:00"},
    ]
    with open(os.path.join(src, "a.json"), "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(src)
    purchases = (
        stream.where(F.col("kind") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    errors = (
        stream.where(F.col("kind") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "30 minutes")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 10 minutes")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.error_id)
        for r in spark.sql("SELECT * FROM ssjoin_sink").collect()
    }
    # only error 2 is within 10 min of purchase 1 for the same user
    assert got == {(1, 2)}


def test_run_pipeline_end_to_end(spark, tmp_path):
    """The composed jobs surface: one config -> datalake + serving."""
    from spark_app_twitter_spark.jobs import PipelineConfig, run_pipeline

    src = str(tmp_path / "src")
    _write_fixture(src, FIXTURE[:4])
    cfg = PipelineConfig(
        file_source_path=src,
        datalake_path=str(tmp_path / "lake"),
        serving_path=str(tmp_path / "serve"),
        checkpoint_root=str(tmp_path / "ckpt"),
        available_now=True,
    )
    for q in run_pipeline(spark, cfg):
        q.awaitTermination(180)
    assert spark.read.parquet(cfg.datalake_path).count() == 4
    serving_rows = spark.read.parquet(cfg.serving_path).count()
    assert serving_rows == 4  # one cell per (topic, hour) in the fixture


def test_run_pipeline_lake_runs_on_its_own_cadence(spark, tmp_path):
    """Run continuously, the datalake ingest triggers every
    LAKE_TRIGGER while the serving query keeps the default trigger
    (the next batch as soon as the previous one ends); an
    ``available_now`` run on the same checkpoints still drains and
    stops."""
    import dataclasses

    from spark_app_twitter_spark.jobs import PipelineConfig, run_pipeline
    from spark_app_twitter_spark.sources.sinks import LAKE_TRIGGER

    src = str(tmp_path / "src")
    _write_fixture(src, FIXTURE[:4])
    cfg = PipelineConfig(
        file_source_path=src,
        datalake_path=str(tmp_path / "lake"),
        serving_path=str(tmp_path / "serve"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    trigger = spark._jvm.org.apache.spark.sql.streaming.Trigger
    queries = run_pipeline(spark, cfg)
    try:
        ingest, serving = (q._jsq.streamingQuery().trigger() for q in queries)
        assert ingest.equals(trigger.ProcessingTime(LAKE_TRIGGER))
        assert serving.equals(trigger.ProcessingTime(0))
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert spark.read.parquet(cfg.datalake_path).count() == 4
    assert spark.read.parquet(cfg.serving_path).count() == 4

    _write_fixture(src, [_tweet(6, "Biden", "2022-03-14T01:00:00.000Z", "a small win")],
                   name="part1.json")
    for q in run_pipeline(spark, dataclasses.replace(cfg, available_now=True)):
        assert q.awaitTermination(180)
    assert spark.read.parquet(cfg.datalake_path).count() == 5
    assert spark.read.parquet(cfg.serving_path).count() == 5


def test_late_events_dead_letter_split(spark, tmp_path):
    """The quarantine split: events older than (batch max ts -
    watermark) land in the dead-letter path instead of vanishing."""
    from spark_app_twitter_spark.streaming.windowed import late_events

    batch = spark.createDataFrame(
        [
            ("a", "2022-03-13 14:40:00"),
            ("b", "2022-03-13 14:58:00"),
            ("late", "2022-03-13 13:00:00"),
        ],
        "key string, created_at_s string",
    ).select("key", F.col("created_at_s").cast("timestamp").alias("created_at"))
    quarantine = str(tmp_path / "quarantine")
    split = late_events(None, watermark="30 minutes")
    split(batch, 0, quarantine)
    got = [r.key for r in spark.read.parquet(quarantine).collect()]
    assert got == ["late"]


def test_streaming_session_window(spark, tmp_path):
    """Built-in session windows under a watermark (gap-merged
    sessions finalize as the watermark passes)."""
    import json as _json

    from pyspark.sql import types as T

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T10:10:00", "value": 2.0},   # same session (gap 10m < 30m)
        {"user_id": 1, "ts": "2024-01-01T12:00:00", "value": 4.0},   # new session
        {"user_id": 2, "ts": "2024-01-01T10:05:00", "value": 8.0},
    ]
    with open(os.path.join(src, "a.json"), "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("session_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.n, r.total)
        for r in spark.sql("SELECT user_id, n, total FROM session_sink").collect()
    }
    assert got == {(1, 2, 3.0), (1, 1, 4.0), (2, 1, 8.0)}


def test_backfill_serving_matches_streaming(spark, tmp_path):
    """Backfill from the datalake produces the same serving cells the
    streaming path would — shared aggregation, no drift."""
    from spark_app_twitter_spark.jobs import backfill_serving

    src = str(tmp_path / "src")
    lake = str(tmp_path / "lake")
    _write_fixture(src, FIXTURE[:4])
    q = sing.ingest_stream(
        sing.read_json_stream(spark, src), lake, str(tmp_path / "ck1"),
        available_now=True,
    )
    q.awaitTermination(120)

    serving = str(tmp_path / "serve")
    backfill_serving(spark, lake, serving, "2022-03-13", "2022-03-14")
    rows = {
        (str(r.window_start), r.topic): (r.positivity_rate, r.counts)
        for r in spark.read.parquet(serving).collect()
    }
    assert len(rows) == 4
    assert rows[("2022-03-13 14:00:00", "Zelensky")] == (1.0, 1)
    # idempotent: backfilling the same range again changes nothing
    backfill_serving(spark, lake, serving, "2022-03-13", "2022-03-14")
    assert spark.read.parquet(serving).count() == 4


def test_upsert_batch_reraises_non_missing_path_errors(spark, tmp_path):
    """ADVICE r01: only a MISSING serving table means 'first batch'.
    A corrupt/unreadable table must raise (never silently overwrite
    the serving state with one micro-batch)."""
    import pytest
    from spark_app_twitter_spark.sources.sinks import upsert_parquet_batch

    batch = spark.range(3).withColumnRenamed("id", "key")

    # missing path -> treated as first batch, table created
    missing = str(tmp_path / "fresh")
    upsert_parquet_batch(batch, 0, missing, ["key"])
    assert spark.read.parquet(missing).count() == 3

    # corrupt table (not-a-parquet footer) -> must raise, not overwrite
    corrupt = str(tmp_path / "corrupt")
    import os

    os.makedirs(corrupt)
    with open(os.path.join(corrupt, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        upsert_parquet_batch(batch, 1, corrupt, ["key"])
    # the corrupt marker file is still there (no overwrite happened)
    assert os.path.exists(os.path.join(corrupt, "part-00000.parquet"))


def test_late_events_uses_engine_watermark_from_progress(spark, tmp_path):
    """The production path: run a watermarked query, let the tracker
    capture the engine-reported watermark from progress events, then
    split a batch against THAT threshold (no per-batch max collect)."""
    import time as _time

    from spark_app_twitter_spark.streaming import ingest as sing
    from spark_app_twitter_spark.streaming import windowed

    src = str(tmp_path / "src")
    _write_fixture(src, FIXTURE)
    tracker = windowed.WatermarkTracker()
    spark.streams.addListener(tracker)
    try:
        parsed = parse_tweet_stream(sing.read_json_stream(spark, src))
        agg = windowed.hourly_topic_aggregate(parsed)
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # two passes so the watermark advances past 1970 and is reported
        q2 = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        deadline = _time.time() + 30
        while tracker.current() is None and _time.time() < deadline:
            _time.sleep(0.5)
        wm = tracker.current()
        assert wm is not None, "listener never reported a non-epoch watermark"

        batch = spark.createDataFrame(
            [("old", "2000-01-01 00:00:00"), ("new", "2999-01-01 00:00:00")],
            "key string, created_at_s string",
        ).select(
            "key", F.col("created_at_s").cast("timestamp").alias("created_at")
        )
        quarantine = str(tmp_path / "quarantine")
        split = windowed.late_events(None, tracker=tracker)
        split(batch, 0, quarantine)
        got = [r.key for r in spark.read.parquet(quarantine).collect()]
        assert got == ["old"], f"expected only the pre-watermark row, got {got}"
    finally:
        spark.streams.removeListener(tracker)


def test_late_event_quarantined_and_aggregate_matches_on_time_batch(
    spark, tmp_path
):
    """End-to-end watermark-drop parity (VERDICT r02 item 8): a late
    event (1) lands in quarantine via the tracker-thresholded split
    and (2) is absent from the streaming serving table, which must
    equal the BATCH aggregate over on-time rows only for every
    finalized window."""
    import time as _time

    src = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    quarantine = str(tmp_path / "quarantine")
    ck_s = str(tmp_path / "ck_serving")
    ck_q = str(tmp_path / "ck_quarantine")

    tracker = windowed.WatermarkTracker()
    spark.streams.addListener(tracker)
    try:
        def serve_once():
            q = windowed.run_hourly_serving(
                parse_tweet_stream(sing.read_json_stream(spark, src)),
                serving, ck_s, available_now=True,
            )
            q.awaitTermination(180)

        def quarantine_once():
            parsed = parse_tweet_stream(sing.read_json_stream(spark, src))
            split = windowed.late_events(None, tracker=tracker)
            q = (
                parsed.writeStream.foreachBatch(
                    lambda b, bid: split(b, bid, quarantine)
                )
                .option("checkpointLocation", ck_q)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        # batch 1: three on-time events across two hours. The
        # quarantine consumer runs first, as it would when both
        # queries start together: engine watermark still epoch -> no-op
        _write_fixture(src, FIXTURE[:3])
        quarantine_once()
        assert not os.path.exists(quarantine)
        serve_once()
        # re-run so the engine reports the advanced watermark (14:55:30)
        serve_once()
        deadline = _time.time() + 30
        while tracker.current() is None and _time.time() < deadline:
            _time.sleep(0.5)
        assert tracker.current() is not None

        # batch 2: one late event (13:00, window already finalized)
        # and one on-time event (15:30)
        _write_fixture(
            src,
            [
                _tweet(7, "Putin", "2022-03-13T13:00:00.000Z", "slow retreat"),
                _tweet(8, "NATO", "2022-03-13T15:30:00.000Z", "fast summit"),
            ],
            name="part1.json",
        )
        quarantine_once()
        serve_once()
        # batch 3: a far-future event pushes the watermark past every
        # earlier window so they all finalize into the serving table
        _write_fixture(
            src,
            [_tweet(9, "Biden", "2022-03-13T18:00:00.000Z", "a big deal")],
            name="part2.json",
        )
        serve_once()
        serve_once()  # extra pass: flush windows the last watermark passed

        # (1) quarantine holds exactly the late event
        q_keys = [r.key for r in spark.read.parquet(quarantine).collect()]
        assert q_keys == ["PU7"], f"quarantine mismatch: {q_keys}"

        # (2) serving == batch aggregate over ON-TIME rows. The
        # upsert sink re-emits updated cells per micro-batch, so every
        # window (finalized or still open) must match the batch twin —
        # EXCEPT the late row's 13:00 window, which the watermarked
        # aggregation dropped before it ever reached the sink.
        lake = parse_tweet_stream(sing.read_json_stream(spark, src))
        # batch replay of the same parse over the same files
        import json as _json
        from pyspark.sql import types as T

        raw = spark.read.schema(
            T.StructType(
                [
                    T.StructField("key", T.StringType()),
                    T.StructField("value", T.StringType()),
                    T.StructField("topic", T.StringType()),
                ]
            )
        ).json(src)
        from spark_app_twitter_spark.operators.ingest import parse_tweet_stream as pts

        on_time = pts(raw).where(F.col("key") != "PU7")
        expected = {
            (str(r.window_start), r.topic): (r.positivity_rate, r.counts)
            for r in windowed.hourly_topic_aggregate(on_time).collect()
        }
        got = {
            (str(r.window_start), r.topic): (r.positivity_rate, r.counts)
            for r in spark.read.parquet(serving).collect()
        }
        assert got == expected, f"serving={got}\nexpected={expected}"
        # the late 13:00 window never appears
        assert not any(k[0].startswith("2022-03-13 13:") for k in got)
    finally:
        spark.streams.removeListener(tracker)


def test_streaming_quality_rules_matches_batch(spark, tmp_path):
    """A quality filter runs inside the streaming ingest in a real
    pipeline; the rule battery is a stateless projection, so it must
    drop into readStream unchanged and agree with batch row-for-row."""
    from spark_app_twitter_spark.operators import textstats

    src = str(tmp_path / "docs")
    os.makedirs(src)
    docs = [
        {"doc_id": 1, "text": "the quick brown fox jumps over a lazy dog " * 3},
        {"doc_id": 2, "text": "spam spam spam spam spam"},  # repetition + short
        # passes every rule: 32 words, two stopwords, all-distinct
        # vocabulary (top_word_frac 1/32), mean word length ~5.4
        {"doc_id": 3, "text": "the a " + " ".join(f"word{i}" for i in range(30))},
    ]
    with open(os.path.join(src, "p0.json"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    schema = "doc_id long, text string"

    stream = spark.readStream.schema(schema).json(src)
    q = (
        textstats.quality_rules_frame(stream)
        .writeStream.format("memory")
        .queryName("qr_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id: tuple(r) for r in spark.sql("SELECT * FROM qr_sink").collect()
    }
    batched = {
        r.doc_id: tuple(r)
        for r in textstats.quality_rules_frame(
            spark.read.schema(schema).json(src)
        ).collect()
    }
    assert streamed == batched
    # the fixture is built to split: doc 2 fails, doc 3 passes
    assert not streamed[2][-1]
    assert streamed[3][-1]


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Stream-static join form of the incremental admission filter:
    arriving docs stream against the static published index; pairs
    must equal the batch operator's on the same data split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_app_twitter_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    all_rows = {
        "doc_id": [1, 2, 19, 29, 39],
        "text": [
            base,
            "one two three four five six seven eight nine ten",
            base + " lambda",  # new batch: near-dup of index doc 1
            "totally novel words nothing shared with any index doc here",
            # new batch: near-dup of index doc 2
            "one two three four five six seven eight nine ten extra",
        ],
        "lang": ["en"] * 5,
        "source": ["s"] * 5,
        "n_chars": [10] * 5,
    }
    sf = str(tmp_path / "pq")
    os.makedirs(sf)
    pq.write_table(pa.table(all_rows), f"{sf}/documents.parquet")
    batch_pairs = {
        (r.new_id, r.index_id, r.jaccard)
        for r in dedup.incremental_dedup(spark, sf).collect()
    }
    assert len(batch_pairs) >= 2, "fixture must plant batch dups"

    # stream the new batch (doc_id % 10 == 9) from a json dir; the
    # index is the static remainder read from the parquet corpus
    src = str(tmp_path / "newdocs")
    os.makedirs(src)
    with open(os.path.join(src, "p0.json"), "w") as f:
        for i, d in enumerate(all_rows["doc_id"]):
            if d % dedup.INC_BATCH_MOD == dedup.INC_BATCH_REM:
                f.write(
                    json.dumps({"doc_id": d, "text": all_rows["text"][i]})
                    + "\n"
                )
    new_stream = spark.readStream.schema("doc_id long, text string").json(src)
    index_docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .where(
            F.col("doc_id") % dedup.INC_BATCH_MOD != dedup.INC_BATCH_REM
        )
        .select("doc_id", "text")
    )
    q = (
        dedup.incremental_dedup_stream(new_stream, index_docs)
        .writeStream.format("memory")
        .queryName("incr_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.new_id, r.index_id, r.jaccard)
        for r in spark.sql("SELECT * FROM incr_sink").collect()
    }
    assert streamed == batch_pairs


def test_streaming_incremental_dedup_watermarked_matches_batch(
    spark, tmp_path
):
    """Watermarked branch of the admission filter: event_time_col +
    dropDuplicatesWithinWatermark. The watermark must propagate
    through the shingle/band projections and the stream-static join,
    the emitted pairs must equal the batch operator's, and the output
    schema must NOT carry the event-time column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_app_twitter_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    all_rows = {
        "doc_id": [1, 2, 19, 29, 39],
        "text": [
            base,
            "one two three four five six seven eight nine ten",
            base + " lambda",
            "totally novel words nothing shared with any index doc here",
            "one two three four five six seven eight nine ten extra",
        ],
        "lang": ["en"] * 5,
        "source": ["s"] * 5,
        "n_chars": [10] * 5,
    }
    sf = str(tmp_path / "pq")
    os.makedirs(sf)
    pq.write_table(pa.table(all_rows), f"{sf}/documents.parquet")
    batch_pairs = {
        (r.new_id, r.index_id, r.jaccard)
        for r in dedup.incremental_dedup(spark, sf).collect()
    }
    assert len(batch_pairs) >= 2, "fixture must plant batch dups"

    src = str(tmp_path / "newdocs")
    os.makedirs(src)
    with open(os.path.join(src, "p0.json"), "w") as f:
        for i, d in enumerate(all_rows["doc_id"]):
            if d % dedup.INC_BATCH_MOD == dedup.INC_BATCH_REM:
                f.write(
                    json.dumps(
                        {
                            "doc_id": d,
                            "text": all_rows["text"][i],
                            "event_ts": f"2024-01-01T00:0{d % 10}:00Z",
                        }
                    )
                    + "\n"
                )
    new_stream = spark.readStream.schema(
        "doc_id long, text string, event_ts timestamp"
    ).json(src)
    index_docs = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .where(
            F.col("doc_id") % dedup.INC_BATCH_MOD != dedup.INC_BATCH_REM
        )
        .select("doc_id", "text")
    )
    out = dedup.incremental_dedup_stream(
        new_stream,
        index_docs,
        event_time_col="event_ts",
        watermark_delay="5 minutes",
    )
    assert out.columns == ["new_id", "index_id", "jaccard"]
    q = (
        out.writeStream.format("memory")
        .queryName("incr_wm_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.new_id, r.index_id, r.jaccard)
        for r in spark.sql("SELECT * FROM incr_wm_sink").collect()
    }
    assert streamed == batch_pairs


def test_streaming_lm_gate_matches_batch(spark, tmp_path, sf_dir):
    """The LM quality gate as a stream: score arriving docs with the
    published (collected) bigram model — stateless append-mode
    projection — and match the batch scorer on the same rows."""
    from spark_app_twitter_spark.operators import textstats

    model, v = textstats.bigram_lm_model(spark, sf_dir)
    src = str(tmp_path / "docs")
    os.makedirs(src)
    rows = [
        {"doc_id": 1, "text": "the cat sat on the mat"},
        {"doc_id": 2, "text": "zx qv wk jn pl rt"},
        {"doc_id": 3, "text": "single"},
    ]
    with open(os.path.join(src, "p0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        textstats.lm_score_frame(stream, model, v)
        .writeStream.format("memory")
        .queryName("lm_gate_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id: r.lm_score
        for r in spark.sql("SELECT * FROM lm_gate_sink").collect()
    }
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    batch = {
        r.doc_id: r.lm_score
        for r in textstats.lm_score_frame(batch_docs, model, v).collect()
    }
    assert streamed == batch
    assert streamed[3] is None  # < 2 tokens
    # unseen bigrams floor at 1/V: garbled doc scores at most that
    assert streamed[2] is not None and streamed[2] <= (1.0 / v) + 1e-9


def test_streaming_session_windows_match_batch_sessionize(
    spark, tmp_path, sf_dir
):
    """session_stats driven three ways on the same events — as a
    stream (availableNow + watermark), in batch mode, and via the
    batch lag-cumsum sessionize — must agree on every session's
    (user, first_ts, last_ts, n_events)."""
    import shutil

    from spark_app_twitter_spark.operators import serving
    from spark_app_twitter_spark.streaming import windowed

    src = str(tmp_path / "events_stream")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/events.parquet")
    batch_events = spark.read.parquet(src)

    stream = spark.readStream.schema(batch_events.schema).parquet(src)
    q = (
        windowed.session_stats(stream)
        .writeStream.format("memory")
        .queryName("sess_stats_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.user_id, r.first_ts, r.last_ts): r.n_events
        for r in spark.sql("SELECT * FROM sess_stats_sink").collect()
    }
    batched = {
        (r.user_id, r.first_ts, r.last_ts): r.n_events
        for r in windowed.session_stats(batch_events).collect()
    }
    # append mode only emits sessions the final watermark has CLOSED:
    # a session still extendable at end-of-stream (last_ts within
    # watermark+gap of the stream max) legitimately stays in state.
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=40)
    assert len(streamed) > 0 and set(streamed) <= set(batched)
    for k, n in batched.items():
        if k in streamed:
            assert streamed[k] == n
        else:
            assert k[2] >= horizon, f"closed session not emitted: {k}"

    lagcum = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in serving.sessionize(spark, sf_dir).collect()
    }
    assert batched == lagcum


def test_streaming_corpus_delta_matches_batch(spark, tmp_path, sf_dir):
    """CDC stream: the streamed added/changed rows must equal the
    batch corpus_delta's added+changed set (removals are batch-only
    — absence is not an event), and the sink stays append-mode with
    zero state."""
    import json as _json

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import versioning
    from spark_app_twitter_spark.sources.parquet import load_table

    batch = {
        (r.doc_id, r.status)
        for r in versioning.corpus_delta(spark, sf_dir).collect()
        if r.status != "removed"
    }
    assert batch, "derivation plants adds and changes"

    docs = load_table(spark, sf_dir, "documents")
    old_snapshot = docs.where(
        F.pmod(F.col("doc_id"), F.lit(versioning._ADD_MOD)) != 0
    ).select("doc_id", "text")
    new_rows = (
        docs.where(F.pmod(F.col("doc_id"), F.lit(versioning._DEL_MOD)) != 0)
        .select(
            "doc_id",
            F.when(
                F.pmod(F.col("doc_id"), F.lit(versioning._CHG_MOD)) == 0,
                F.concat(F.col("text"), F.lit(versioning._CHG_SUFFIX)),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .collect()
    )
    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    with open(os.path.join(src, "p0.json"), "w") as f:
        for r in new_rows:
            f.write(_json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        versioning.corpus_delta_stream(stream, old_snapshot)
        .writeStream.format("memory")
        .queryName("cdc_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.doc_id, r.status)
        for r in spark.sql("SELECT * FROM cdc_sink").collect()
    }
    assert streamed == batch


def test_streaming_hll_sketch_matches_batch(spark, tmp_path, sf_dir):
    """Mergeable-sketch property under Structured Streaming: the
    (day, bucket) -> max(rho) registers accumulated across
    micro-batches (complete mode, availableNow) must be bit-equal to
    the batch sketch over the same events — max IS the state merge,
    so sketch equality proves cross-batch mergeability."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import sketches
    from spark_app_twitter_spark.sources.parquet import load_table

    ev_batch = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    batch_sketch = {
        (str(r.day), r.bucket): r.mrho
        for r in sketches.hll_sketch(ev_batch).collect()
    }

    # stream the same events through a rate-limited parquet source so
    # the aggregation really merges across multiple micro-batches
    src = str(tmp_path / "ev")
    load_table(spark, sf_dir, "events").select(
        "ts", "user_id"
    ).repartition(8).write.parquet(src)
    stream = (
        spark.readStream.schema("ts timestamp_ntz, user_id long")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .select(F.to_date("ts").alias("day"), "user_id")
    )
    q = (
        sketches.hll_sketch(stream)
        .writeStream.format("memory")
        .queryName("hll_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (str(r.day), r.bucket): r.mrho
        for r in spark.sql("SELECT * FROM hll_sink").collect()
    }
    assert streamed == batch_sketch


def test_hll_sketch_union_merge_property(spark, sf_dir):
    """Two half-corpus sketches unioned and re-maxed must equal the
    full-corpus sketch — the cross-dataset merge a sketch store
    relies on."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import sketches
    from spark_app_twitter_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id", "event_id"
    )
    full = sketches.hll_sketch(ev.select("day", "user_id"))
    a = sketches.hll_sketch(
        ev.where(F.col("event_id") % 2 == 0).select("day", "user_id")
    )
    b = sketches.hll_sketch(
        ev.where(F.col("event_id") % 2 == 1).select("day", "user_id")
    )
    merged = (
        a.unionByName(b)
        .groupBy("day", "bucket")
        .agg(F.max("mrho").alias("mrho"))
    )
    diff = full.alias("f").join(
        merged.alias("m"), ["day", "bucket"], "full"
    ).where(F.col("f.mrho").eqNullSafe(F.col("m.mrho")) == False)  # noqa: E712
    assert diff.count() == 0


def test_streaming_stats_maintenance_matches_full_recompute(
    spark, tmp_path, sf_dir
):
    """The CDC-log stats pipeline end-to-end: stream the new-snapshot
    docs in several micro-batches through maintain_source_stats_stream,
    then source_stats_from_log must equal a from-scratch aggregation
    of the new snapshot — and re-running the stream from a fresh
    checkpoint (same batches) must leave the stats unchanged
    (replay-idempotent log)."""
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import versioning
    from spark_app_twitter_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    # old snapshot / new snapshot via the corpus_delta derivation
    old = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id", "source", "text"
    )
    new = docs.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # NOTE: the stream carries arrivals only — removals (in old, not
    # in new) stay a batch job, so the expected table is old MINUS
    # nothing here; stream the NEW snapshot and compare against
    # base(old) + arrivals, i.e. stats over (old ∪ new-arrivals)
    src = str(tmp_path / "arrivals")
    new.repartition(4).write.json(src)
    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).option("maxFilesPerTrigger", 1).json(src)
    log_path = str(tmp_path / "log")

    def run(checkpoint: str) -> None:
        q = (
            versioning.maintain_source_stats_stream(stream, old, log_path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ck1"))
    got1 = {
        r.source: (r.n_docs, r.n_tokens)
        for r in versioning.source_stats_from_log(
            spark, old, log_path
        ).collect()
    }
    # expected: old corpus updated with every arrival (added+changed)
    expected_df = (
        old.join(new.select("doc_id"), "doc_id", "left_anti")
        .unionByName(new)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias(
                "n_tokens"
            ),
        )
    )
    expected = {
        r.source: (r.n_docs, r.n_tokens) for r in expected_df.collect()
    }
    assert got1 == expected
    # replay from a fresh checkpoint: same batch ids, same dirs — the
    # log must not double-apply
    run(str(tmp_path / "ck2"))
    got2 = {
        r.source: (r.n_docs, r.n_tokens)
        for r in versioning.source_stats_from_log(
            spark, old, log_path
        ).collect()
    }
    assert got2 == expected
    # REDELIVERY + second update in a later batch: re-emit a subset
    # (some unchanged — must not double-count; some with new text —
    # latest state must win). Continue on ck1 so only the new file
    # forms a new batch.
    redeliver = [r for r in new.orderBy("doc_id").limit(10).collect()]
    import json as _json2

    with open(os.path.join(src, "zz_redelivery.json"), "w") as f:
        for i, r in enumerate(redeliver):
            text = r.text + " rev3" if i % 2 == 0 else r.text
            f.write(
                _json2.dumps(
                    {"doc_id": r.doc_id, "source": r.source, "text": text}
                )
                + "\n"
            )
    run(str(tmp_path / "ck1"))
    got3 = {
        r.source: (r.n_docs, r.n_tokens)
        for r in versioning.source_stats_from_log(
            spark, old, log_path
        ).collect()
    }
    latest_text = {}
    for r in new.collect():
        latest_text[(r.doc_id, r.source)] = r.text
    for i, r in enumerate(redeliver):
        if i % 2 == 0:
            latest_text[(r.doc_id, r.source)] = r.text + " rev3"
    exp3: dict = {}
    for (doc_id, source), text in latest_text.items():
        d, t = exp3.get(source, (0, 0))
        exp3[source] = (d + 1, t + len(text.split(" ")))
    # old-corpus docs not re-arrived keep their base contribution
    arrived = {doc_id for doc_id, _ in latest_text}
    for r in old.collect():
        if r.doc_id not in arrived:
            d, t = exp3.get(r.source, (0, 0))
            exp3[r.source] = (d + 1, t + len(r.text.split(" ")))
    assert got3 == exp3


def test_streaming_token_budget_admission_matches_prefix(
    spark, tmp_path, sf_dir
):
    """Stateful budget admission across micro-batches must equal the
    batch prefix rule: per source, docs admitted in doc_id order
    while the running token sum stays within budget — state carries
    the spent budget between batches."""
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.streaming.stateful import (
        token_budget_admission,
    )
    from spark_app_twitter_spark.sources.parquet import load_table

    budget = 800
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # files sorted by doc_id so arrival order == doc_id order per
    # source (the operator's documented determinism precondition)
    src = str(tmp_path / "docs")
    os.makedirs(src)
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    n_files = 4
    per = (len(rows) + n_files - 1) // n_files
    import json as _json

    for i in range(n_files):
        with open(os.path.join(src, f"p{i:02d}.json"), "w") as f:
            for r in rows[i * per : (i + 1) * per]:
                f.write(
                    _json.dumps(
                        {
                            "doc_id": r.doc_id,
                            "source": r.source,
                            "text": r.text,
                        }
                    )
                    + "\n"
                )
        # the file source takes the oldest file first; files written
        # within one millisecond would tie and arrive in listing order
        mtime = 1_600_000_000 + i
        os.utime(os.path.join(src, f"p{i:02d}.json"), (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        token_budget_admission(stream, budget)
        .writeStream.format("memory")
        .queryName("admit_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.doc_id: r.admitted
        for r in spark.sql("SELECT * FROM admit_sink").collect()
    }
    # batch replica of the prefix rule
    expected = {}
    spent: dict = {}
    for r in rows:
        t = len(r.text.split(" "))
        ok = spent.get(r.source, 0) + t <= budget
        if ok:
            spent[r.source] = spent.get(r.source, 0) + t
        expected[r.doc_id] = ok
    assert got == expected
    # every source admitted at least one doc and rejected at least one
    # (budget chosen to split the sf0.001 corpus)
    adm = spark.sql(
        "SELECT source, sum(CASE WHEN admitted THEN 1 ELSE 0 END) a,"
        " sum(CASE WHEN admitted THEN 0 ELSE 1 END) r"
        " FROM admit_sink GROUP BY source"
    ).collect()
    assert any(x.a > 0 for x in adm) and any(x.r > 0 for x in adm)


def test_streaming_cms_sketch_matches_batch(spark, tmp_path, sf_dir):
    """The count-min cells accumulated across micro-batches (complete
    mode, availableNow) must equal the batch sketch — sums ARE the
    state merge, the trending-terms path of the reference domain."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions.text import tokens
    from spark_app_twitter_spark.operators import sketches
    from spark_app_twitter_spark.sources.parquet import load_table

    occ_batch = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("term")
    )
    batch_cells = {
        (r.j, r.cell): r.c for r in sketches.cms_cells(occ_batch).collect()
    }
    src = str(tmp_path / "docs")
    load_table(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        6
    ).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .select(F.explode(tokens("text")).alias("term"))
    )
    q = (
        sketches.cms_cells(stream)
        .writeStream.format("memory")
        .queryName("cms_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.j, r.cell): r.c
        for r in spark.sql("SELECT * FROM cms_sink").collect()
    }
    assert streamed == batch_cells


def test_trending_read_from_streamed_serving_table(spark, tmp_path):
    """The reference's full story end-to-end: tweets stream through
    the hourly serving upsert, and the dashboard's TRENDING read
    over the published serving table must equal the same trend
    computed directly on the raw tweets — stream -> serving ->
    trend with no raw-event access on the read path."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.serving import (
        trending_from_serving,
    )
    from spark_app_twitter_spark.streaming import (
        ingest as sing,
        windowed,
    )
    from spark_app_twitter_spark.streaming.ingest import (
        parse_tweet_stream,
    )

    rows = [
        _tweet(1, "NATO", "2022-03-13T10:00:00.000Z", "day one small"),
        _tweet(2, "NATO", "2022-03-13T11:00:00.000Z", "day one again"),
        _tweet(3, "Putin", "2022-03-13T12:00:00.000Z", "slow advance"),
        # day 2: NATO flat (2), Putin triples -> Putin trends
        _tweet(4, "NATO", "2022-03-14T09:00:00.000Z", "day two"),
        _tweet(5, "NATO", "2022-03-14T10:30:00.000Z", "day two more"),
        _tweet(6, "Putin", "2022-03-14T08:00:00.000Z", "fast moves"),
        _tweet(7, "Putin", "2022-03-14T09:15:00.000Z", "fast again"),
        _tweet(8, "Putin", "2022-03-14T21:40:00.000Z", "big fast push"),
    ]
    src = str(tmp_path / "src")
    _write_fixture(src, rows)
    serving_path = str(tmp_path / "serving")
    parsed = parse_tweet_stream(sing.read_json_stream(spark, src))
    q = windowed.run_hourly_serving(
        parsed, serving_path, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(180)

    table = spark.read.parquet(serving_path)
    got = {
        (str(r.day), r.topic): (r.counts, r.delta, r.trend_rank)
        for r in trending_from_serving(table).collect()
    }
    assert got[("2022-03-14", "Putin")] == (3, 2, 1)  # riser ranks 1st
    assert got[("2022-03-14", "NATO")] == (2, 0, 2)  # flat ranks below
    assert got[("2022-03-13", "NATO")] == (2, 2, 1)  # day-1 zero base


def test_rate_source_drives_ingest_projection(spark, tmp_path):
    """Round-7 Kafka-probe mitigation: a SECOND built-in streaming
    source (rate-micro-batch) must drive the identical ingest
    projection end-to-end — source swaps, plan doesn't. The batch
    twin of the wire synthesis pins exact values (key scheme, topic
    round-robin, payload parse) so the streaming half only has to
    prove the source runs through the same plan."""
    topics = ("Zelensky", "Putin", "Biden", "NATO", "NoFlyZone")

    # batch twin: deterministic ticks -> wire -> projection
    ticks = spark.range(10).select(
        F.to_timestamp(F.lit("2022-03-13 14:21:09")).alias("timestamp"),
        F.col("id").alias("value"),
    )
    wire = sing.synthetic_wire(ticks, topics)
    out = {r["key"]: r for r in parse_tweet_stream(wire).collect()}
    assert len(out) == 10
    # value=0 -> topic Zelensky, key ZE0; value=6 -> topic Putin, PU6
    assert out["ZE0"]["topic"] == "Zelensky"
    assert out["PU6"]["topic"] == "Putin"
    assert out["ZE0"]["text"] == "synthetic tweet 0"
    assert out["ZE0"]["date"] == "2022-03-13"
    assert out["ZE0"]["hour"] == "14"

    # streaming smoke: the rate source feeds the same projection
    lake = str(tmp_path / "rate_lake")
    ckpt = str(tmp_path / "rate_ckpt")
    q = sing.ingest_stream(
        sing.read_rate_wire_stream(spark, topics, rows_per_batch=50),
        lake,
        ckpt,
    )
    try:
        # one processed micro-batch is enough; processAllAvailable
        # would never return (a rate source generates forever). Poll
        # numInputRows: the v1 parquet FileStreamSink reports
        # numOutputRows = -1 in every progress entry, so the output
        # counter would never fire — a progress entry with input rows
        # is only emitted AFTER its batch (and sink commit) completes.
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.read.parquet(lake)
    assert rows.count() >= 50
    got = rows.where(F.col("key") == "ZE0").collect()
    assert len(got) == 1 and got[0]["topic"] == "Zelensky"


def test_streaming_ann_serving_matches_batch(spark, tmp_path, sf_dir):
    """Streaming ANN serving (foreachBatch against the published
    two-level index) answers a streamed query cohort EXACTLY like the
    batch search — the stream==batch discipline applied to the
    retrieval capstone. Queries arrive as two separate files (two
    micro-batch candidates); the union of per-batch answers must
    equal the batch result for the same cohort."""
    import json as _json

    from spark_app_twitter_spark.operators import similarity
    from spark_app_twitter_spark.streaming import annserve

    qdir = str(tmp_path / "queries")
    os.makedirs(qdir)
    cohort = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < similarity.N_QUERIES)
        .collect()
    )
    for i, half in enumerate((cohort[:2], cohort[2:])):
        with open(os.path.join(qdir, f"q{i}.json"), "w") as fh:
            for r in half:
                fh.write(
                    _json.dumps(
                        {
                            "query_id": r.vec_id,
                            "qv": [float(x) for x in r.embedding],
                        }
                    )
                    + "\n"
                )
    out = str(tmp_path / "answers")
    q = annserve.serve_knn_stream(
        spark,
        annserve.read_query_stream(spark, qdir),
        sf_dir,
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in similarity.knn_ivf(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_ann_serving_zero_vector_query_is_deterministic(spark, sf_dir):
    """Degenerate serve input: a zero query vector has no defined
    cosine direction, and Spark 4's ANSI mode turns the bare division
    into a task-killing divideByZeroError (found by this test; the
    serve path now pins degenerate scores to -2.0). The path must
    return exactly TOP_K rows with the deterministic neighbor_id
    tie-break, identically on every run — fail SOFT, never kill the
    streaming query."""
    from spark_app_twitter_spark.operators import similarity

    z = spark.createDataFrame(
        [(9999, [0.0] * 64)], "query_id long, qv array<double>"
    )
    a = similarity.knn_ivf_search(spark, sf_dir, z).collect()
    b = similarity.knn_ivf_search(spark, sf_dir, z).collect()
    assert len(a) == similarity.TOP_K
    assert [r.neighbor_id for r in a] == [r.neighbor_id for r in b]
    assert [r.rank for r in a] == list(range(1, similarity.TOP_K + 1))


def test_streaming_bm25_serving_matches_batch(spark, tmp_path, sf_dir):
    """Streaming keyword serving (foreachBatch through the shared
    bm25_search core) answers a streamed query cohort EXACTLY like
    the registered batch query — the stream==batch discipline
    applied to the sparse retrieval path. The cohort is the batch
    query's own corpus-derived term sets, split across two files
    (two micro-batch candidates)."""
    import json as _json

    from spark_app_twitter_spark.operators import retrieval
    from spark_app_twitter_spark.streaming import bm25serve

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cohort = (
        docs.where(F.col("doc_id") < retrieval.BM25_N_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(
                F.array_sort(F.array_distinct(F.split("text", " "))),
                1,
                retrieval.BM25_Q_TERMS,
            ).alias("terms"),
        )
        .collect()
    )
    qdir = str(tmp_path / "kqueries")
    os.makedirs(qdir)
    for i, half in enumerate((cohort[:2], cohort[2:])):
        with open(os.path.join(qdir, f"q{i}.json"), "w") as fh:
            for r in half:
                fh.write(
                    _json.dumps(
                        {"query_id": r.query_id, "terms": list(r.terms)}
                    )
                    + "\n"
                )
    out = str(tmp_path / "kanswers")
    q = bm25serve.serve_bm25_stream(
        spark,
        bm25serve.read_keyword_stream(spark, qdir),
        sf_dir,
        out,
        str(tmp_path / "kckpt"),
    )
    q.awaitTermination(180)

    got = {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in retrieval.bm25_retrieve(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_pii_monitor_matches_batch(spark, tmp_path):
    """The per-topic PII counters accumulated across micro-batches
    (complete mode, availableNow) equal the batch aggregation over
    the same wire rows — one shared definition
    (textstats.pii_group_counts), two execution modes."""
    import json

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.streaming.ingest import WIRE
    from spark_app_twitter_spark.streaming.piimonitor import (
        pii_topic_counts,
    )

    topics = ["economy", "covid"]
    rows = []
    for i in range(60):
        text = f"tweet {i}"
        if i % 3 == 0:
            text += f" mail user{i}@example.com"
        if i % 4 == 0:
            text += " call 555 0000"
        rows.append(
            {
                "key": f"K{i}",
                "value": json.dumps(
                    {
                        "data": {
                            "created_at": "2023-11-14T22:13:20.000Z",
                            "text": text,
                        }
                    }
                ),
                "topic": topics[i % 2],
            }
        )
    src = str(tmp_path / "wire")
    import os

    os.makedirs(src)
    # several files so the stream really runs multiple micro-batches
    for part in range(4):
        with open(f"{src}/part{part}.json", "w") as f:
            for r in rows[part::4]:
                f.write(json.dumps(r) + "\n")

    batch = {
        r.topic: tuple(r)[1:]
        for r in pii_topic_counts(
            spark.read.schema(WIRE).json(src)
        ).collect()
    }
    stream = (
        spark.readStream.schema(WIRE)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        pii_topic_counts(stream)
        .writeStream.format("memory")
        .queryName("pii_monitor_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r.topic: tuple(r)[1:]
        for r in spark.sql("SELECT * FROM pii_monitor_t").collect()
    }
    assert streamed == batch
    assert set(streamed) == set(topics)
    # the planted spans were actually counted
    assert sum(v[2] for v in streamed.values()) == 20  # email spans
    assert all(v[0] == 30 for v in streamed.values())


def test_pii_monitor_over_kafka_wire_source(spark):
    """End-to-end: the monitor consumes the kafka-wire Python data
    source (the production builder path) and reports per-topic
    counters for every subscribed topic."""
    import time

    from spark_app_twitter_spark.sources import kafka_pysource as kp
    from spark_app_twitter_spark.sources.kafka import read_kafka_stream
    from spark_app_twitter_spark.streaming.piimonitor import monitor_stream

    try:
        kp.register_py_kafka(spark)
    except Exception as e:
        assert "DATA_SOURCE_ALREADY_EXISTS" in str(e)
    wire = read_kafka_stream(
        spark, "b:9092", "economy,covid,war", fmt=kp.PY_KAFKA_FORMAT
    ).selectExpr(
        "CAST(key AS STRING) key", "CAST(value AS STRING) value", "topic"
    )
    q = monitor_stream(wire, queryName="pii_monitor_k")
    total = 0
    try:
        for _ in range(240):
            got = spark.sql(
                "SELECT sum(n_docs) s FROM pii_monitor_k"
            ).collect()
            total = got[0].s or 0
            if total >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert total >= 100
    topics = {
        r.topic for r in spark.sql("SELECT topic FROM pii_monitor_k").collect()
    }
    assert topics == {"economy", "covid", "war"}


def test_streaming_mongo_sink_ep2_ep3_wiring(spark, tmp_path):
    """The reference's EP2->EP3 seam, streaming edition, executed:
    wire rows -> parse -> per-topic aggregate -> foreachBatch APPEND
    to the mongodb collection (write_mongo_stream over the wire twin)
    -> dashboard read + dedup-on-read recovers exactly the batch
    aggregate over the same rows."""
    import json
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.ingest import parse_tweet_stream
    from spark_app_twitter_spark.sources import mongo_pysource as mp
    from spark_app_twitter_spark.sources.sinks import (
        read_mongo_batch,
        write_mongo_stream,
    )
    from spark_app_twitter_spark.streaming.ingest import WIRE

    try:
        mp.register_mongo_wire(spark)
    except Exception as e:
        assert "DATA_SOURCE_ALREADY_EXISTS" in str(e)

    topics = ["economy", "covid", "war"]
    src = str(tmp_path / "wire")
    os.makedirs(src)
    for part in range(3):
        with open(f"{src}/p{part}.json", "w") as f:
            for i in range(part * 20, (part + 1) * 20):
                f.write(
                    json.dumps(
                        {
                            "key": f"K{i}",
                            "value": json.dumps(
                                {
                                    "data": {
                                        "created_at": "2023-11-14T22:13:20.000Z",
                                        "text": f"tweet {i}",
                                    }
                                }
                            ),
                            "topic": topics[i % 3],
                        }
                    )
                    + "\n"
                )

    agg = lambda df: (  # noqa: E731 — shared batch/stream definition
        parse_tweet_stream(df).groupBy("topic").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    expected = {
        r.topic: r.n for r in agg(spark.read.schema(WIRE).json(src)).collect()
    }

    uri = "mongodb://stream-cluster:27017"
    store = {mp.STORE_OPT: str(tmp_path / "mongo")}
    q = write_mongo_stream(
        agg(
            spark.readStream.schema(WIRE)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        ),
        uri,
        "twitter",
        "agg_stream",
        checkpoint=str(tmp_path / "ck"),
        extra_options=store,
        trigger_available_now=True,
    )
    q.awaitTermination(180)

    back = read_mongo_batch(
        spark, uri, "twitter", "agg_stream", "topic string, n long", store
    )
    # append-only: multiple versions per topic across micro-batches
    assert back.count() >= len(expected)
    # dashboard dedup-on-read: latest (= max running count) per topic
    latest = {
        r.topic: r.n
        for r in back.groupBy("topic").agg(F.max("n").alias("n")).collect()
    }
    assert latest == expected and sum(latest.values()) == 60


def test_stateful_first_seen_matches_batch_new_vs_returning(
    spark, sf_dir, tmp_path
):
    """The streaming first-seen detector, replayed day-ordered over
    the events corpus (one micro-batch per day), aggregates to
    exactly serving.new_vs_returning's per-day split."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from spark_app_twitter_spark.operators import serving
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.stateful import first_seen_users

    du = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id"),
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        )
        .distinct()
        .collect()
    )
    by_day = {}
    for r in du:
        by_day.setdefault(r.day, []).append(r.user_id)
    src = str(tmp_path / "days")
    _os.makedirs(src)
    import time as _time

    base = int(_time.time()) - 86400
    for i, d in enumerate(sorted(by_day)):
        path = _os.path.join(src, f"b{i:03d}.json")
        with open(path, "w") as f:
            for u in by_day[d]:
                f.write(_json.dumps({"user_id": u, "day": d}) + "\n")
        # FileStreamSource orders micro-batches by MODIFICATION TIME,
        # not name — files written in one fast loop share an mtime and
        # arrive in undefined order; pin strictly increasing mtimes so
        # the replay is day-ordered (the contract the detector states)
        _os.utime(path, (base + i, base + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("day", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        first_seen_users(stream)
        .writeStream.format("memory")
        .queryName("first_seen_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {}
    for r in spark.sql("SELECT * FROM first_seen_sink").collect():
        n, ret = streamed.get(r.day, (0, 0))
        streamed[r.day] = (
            (n + 1, ret) if r.is_new else (n, ret + 1)
        )
    batch = {
        r.day.strftime("%Y-%m-%d"): (r.new_users, r.returning_users)
        for r in serving.new_vs_returning(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_scd2_stream_matches_batch_rebuild_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming SCD2 maintenance == batch rebuild: feeding the
    event stream in three event-time-ordered micro-batches yields a
    dimension table identical to scd2_user_attr over the full log;
    per-batch cost touches only that batch's users; replaying the
    final batch leaves the table unchanged (idempotent upsert)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import versioning
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.scd2serve import (
        apply_scd2_batch,
        scd2_table,
    )

    path = f"{tmp_path}/scd2_dim"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("attr_k"),
        "ts",
        "event_id",
    )
    from spark_app_twitter_spark.functions.timeutil import epoch_us

    ev = ev.withColumn("us", epoch_us("ts"))
    qs = ev.agg(
        F.expr("percentile_approx(us, 0.33)"),
        F.expr("percentile_approx(us, 0.66)"),
    ).collect()[0]
    b1 = ev.where(F.col("us") <= qs[0]).drop("us")
    b2 = ev.where((F.col("us") > qs[0]) & (F.col("us") <= qs[1])).drop("us")
    b3 = ev.where(F.col("us") > qs[1]).drop("us")
    assert b1.count() and b2.count() and b3.count()

    for i, b in enumerate([b1, b2, b3]):
        apply_scd2_batch(b, i, path)

    got = sorted(
        tuple(r)
        for r in scd2_table(spark, path)
        .select(
            "user_id", "attr_k", "valid_from", "valid_to", "version",
            "is_current",
        )
        .collect()
    )
    want = sorted(
        tuple(r) for r in versioning.scd2_user_attr(spark, sf_dir).collect()
    )
    assert got == want

    # replaying the last micro-batch must not change the table
    apply_scd2_batch(b3, 99, path)
    again = sorted(
        tuple(r)
        for r in scd2_table(spark, path)
        .select(
            "user_id", "attr_k", "valid_from", "valid_to", "version",
            "is_current",
        )
        .collect()
    )
    assert again == got


def test_q1_stream_matches_batch_and_replay_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Continuous Q1 IVM: folding the lineitem stream in three
    micro-batches yields the batch report bit-for-bit (exact DECIMAL
    partials are associative); replaying a batch under its batch_id
    REPLACES its partials instead of double-counting."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import tpch
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.q1serve import (
        apply_q1_batch,
        q1_report_from_partials,
    )

    path = f"{tmp_path}/q1_partials"
    li = load_table(spark, sf_dir, "lineitem")
    batches = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    assert all(b.count() for b in batches)
    for i, b in enumerate(batches):
        apply_q1_batch(b, i, path)

    got = sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in tpch.q1_pricing_summary(spark, sf_dir).collect()
    )
    assert got == want

    # a foreachBatch retry re-applies batch 2 — report unchanged
    apply_q1_batch(batches[2], 2, path)
    again = sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )
    assert again == got


def test_q3_stream_matches_batch_and_replay_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Join-bearing streaming IVM: folding the lineitem stream in
    three micro-batches through the static customer x orders dims
    reproduces the batch Q3 top-10 bit-for-bit; replaying a batch
    replaces its partials (batch_id-keyed, no double counting)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import tpch
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.q3serve import (
        apply_q3_batch,
        q3_report_from_partials,
    )

    path = f"{tmp_path}/q3_partials"
    li = load_table(spark, sf_dir, "lineitem")
    batches = [li.where(F.col("l_suppkey") % 3 == i) for i in range(3)]
    assert all(b.count() for b in batches)
    for i, b in enumerate(batches):
        apply_q3_batch(b, i, path, sf_dir)

    got = sorted(
        tuple(r) for r in q3_report_from_partials(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in tpch.q3_shipping_priority(spark, sf_dir).collect()
    )
    assert got == want

    apply_q3_batch(batches[1], 1, path, sf_dir)
    again = sorted(
        tuple(r) for r in q3_report_from_partials(spark, path).collect()
    )
    assert again == got


def test_q1_stream_retraction_matches_recompute_over_survivors(
    spark, sf_dir, tmp_path
):
    """RF2 through the STREAM: after folding the full lineitem log,
    a delete batch (sign=-1) retracts the rows with
    l_orderkey % IVM_REFRESH_MOD == 0 — the report then equals a
    batch recompute over the surviving rows, and a retry of the
    delete batch does not double-retract."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import tpch
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.q1serve import (
        apply_q1_batch,
        q1_report_from_partials,
    )

    path = f"{tmp_path}/q1_rf2"
    li = load_table(spark, sf_dir, "lineitem")
    apply_q1_batch(li.where(F.col("l_orderkey") % 2 == 0), 0, path)
    apply_q1_batch(li.where(F.col("l_orderkey") % 2 == 1), 1, path)
    deleted = li.where(F.col("l_orderkey") % tpch.IVM_REFRESH_MOD == 0)
    apply_q1_batch(deleted, 2, path, sign=-1)

    got = sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in tpch.q1_retraction(spark, sf_dir).collect()
    )
    assert got == want

    # delete-batch retry replaces its own signed rows — no
    # double-retraction
    apply_q1_batch(deleted, 2, path, sign=-1)
    again = sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )
    assert again == got


def test_q3_stream_retraction_matches_recompute_over_survivors(
    spark, sf_dir, tmp_path
):
    """RF2 through the streamed JOIN: after folding the lineitem
    log, a delete batch (sign=-1) retracts the
    l_suppkey % Q3_IVM_LINE_MOD rows THROUGH the dims — the report
    equals q3_retraction (recompute over survivors) bit-for-bit,
    and a delete-batch retry never double-retracts."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import tpch
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.q3serve import (
        apply_q3_batch,
        q3_report_from_partials,
    )

    path = f"{tmp_path}/q3_rf2"
    li = load_table(spark, sf_dir, "lineitem")
    apply_q3_batch(li.where(F.col("l_orderkey") % 2 == 0), 0, path, sf_dir)
    apply_q3_batch(li.where(F.col("l_orderkey") % 2 == 1), 1, path, sf_dir)
    deleted = li.where(F.col("l_suppkey") % tpch.Q3_IVM_LINE_MOD == 0)
    apply_q3_batch(deleted, 2, path, sf_dir, sign=-1)

    got = sorted(
        tuple(r) for r in q3_report_from_partials(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in tpch.q3_retraction(spark, sf_dir).collect()
    )
    assert got == want

    apply_q3_batch(deleted, 2, path, sf_dir, sign=-1)
    again = sorted(
        tuple(r) for r in q3_report_from_partials(spark, path).collect()
    )
    assert again == got


def test_statestore_failed_publish_leaves_previous_snapshot(
    spark, tmp_path, monkeypatch
):
    """The r10 crash-safety contract: a publish that dies at ANY
    point (snapshot write or pointer swap) leaves the previously
    published state readable — the pre-r10 read-overwrite-same-path
    pattern destroyed it. Also: debris from the failed attempt is
    garbage-collected by the next successful publish, and only _KEEP
    snapshots are retained."""
    import os

    from spark_app_twitter_spark.streaming import statestore

    path = f"{tmp_path}/store"
    ddl = "k long, v long"
    statestore.publish_state(spark.createDataFrame([(1, 10)], ddl), path)
    first = [tuple(r) for r in statestore.read_state(spark, path, ddl).collect()]
    assert first == [(1, 10)]

    # crash during the snapshot write: half-written v-2 dir, pointer
    # untouched
    real_replace = os.replace

    def boom(*a, **k):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(statestore.os, "replace", boom)
    try:
        statestore.publish_state(
            spark.createDataFrame([(2, 20)], ddl), path
        )
    except OSError:
        pass
    monkeypatch.setattr(statestore.os, "replace", real_replace)
    still = [tuple(r) for r in statestore.read_state(spark, path, ddl).collect()]
    assert still == [(1, 10)]

    # next publish succeeds, supersedes the debris, prunes beyond
    # _KEEP
    statestore.publish_state(spark.createDataFrame([(3, 30)], ddl), path)
    now = [tuple(r) for r in statestore.read_state(spark, path, ddl).collect()]
    assert now == [(3, 30)]
    statestore.publish_state(spark.createDataFrame([(4, 40)], ddl), path)
    snaps = sorted(n for n in os.listdir(path) if n.startswith("v-"))
    assert len(snaps) <= statestore._keep()
    assert [
        tuple(r) for r in statestore.read_state(spark, path, ddl).collect()
    ] == [(4, 40)]


def test_q1_delete_stream_own_batchid_namespace(spark, sf_dir, tmp_path):
    """The r10 namespace contract: a DELETE stream restarting at
    batch_id 0 must RETRACT, not silently replace insert batch 0's
    partials (the pre-r10 single-namespace corruption). Fold the
    full log as insert batches 0/1, then fold the RF2 delete batch
    as batch_id 0 of its own stream — the report must equal the
    recompute over survivors, and a retry stays idempotent."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import tpch
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.q1serve import (
        apply_q1_batch,
        q1_report_from_partials,
    )

    path = f"{tmp_path}/q1_ns"
    li = load_table(spark, sf_dir, "lineitem")
    apply_q1_batch(li.where(F.col("l_orderkey") % 2 == 0), 0, path)
    apply_q1_batch(li.where(F.col("l_orderkey") % 2 == 1), 1, path)
    deleted = li.where(F.col("l_orderkey") % tpch.IVM_REFRESH_MOD == 0)
    # same batch_id as insert batch 0 — previously clobbered it
    apply_q1_batch(deleted, 0, path, sign=-1)
    got = sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in tpch.q1_retraction(spark, sf_dir).collect()
    )
    assert got == want
    apply_q1_batch(deleted, 0, path, sign=-1)
    assert got == sorted(
        tuple(r) for r in q1_report_from_partials(spark, path).collect()
    )


def test_scd2_late_observation_hits_audit_not_silent(spark, tmp_path):
    """The r10 dead-letter contract: an observation OLDER than a
    user's newest stored change is detected and logged to the
    late-audit worklist (previously the merge silently produced
    history differing from the batch rebuild). In-order users never
    appear in the audit."""
    import datetime as dt

    from spark_app_twitter_spark.streaming.scd2serve import (
        apply_scd2_batch,
        scd2_late_audit,
        scd2_table,
    )

    def ts(d):
        return dt.datetime(2024, 1, d)

    ddl = "user_id long, attr_k int, ts timestamp, event_id long"
    path = f"{tmp_path}/scd2_late"
    b0 = spark.createDataFrame(
        [(1, 10, ts(1), 100), (1, 11, ts(5), 101), (2, 20, ts(2), 200)],
        ddl,
    )
    apply_scd2_batch(b0, 0, path)
    assert scd2_late_audit(spark, path).count() == 0

    # user 1: ts(3) predates its stored change at ts(5) -> audited;
    # user 2: in-order arrival -> not audited
    b1 = spark.createDataFrame(
        [(1, 12, ts(3), 102), (2, 21, ts(6), 201)], ddl
    )
    apply_scd2_batch(b1, 1, path)
    audit = scd2_late_audit(spark, path)
    assert [
        (r.batch_id, r.user_id) for r in audit.collect()
    ] == [(1, 1)]
    # the merge still proceeded — the table is available and contains
    # both users
    assert scd2_table(spark, path).where("user_id = 2").count() >= 2


def test_statestore_lock_serializes_concurrent_writers(spark, tmp_path):
    """Two writers sharing one state path (the insert + RF2 delete
    stream pair) must linearize their read-merge-publish: without
    the lock, interleaved read-modify-writes lose updates. Two
    threads each fold 10 single-row increments into a shared counter
    state — every increment must survive."""
    import threading

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.streaming import statestore

    path = f"{tmp_path}/ctr"
    ddl = "k long, v long"
    errors = []

    def worker():
        try:
            for _ in range(10):
                with statestore.state_lock(path):
                    cur = statestore.read_state(spark, path, ddl)
                    if cur is None:
                        nxt = spark.createDataFrame([(0, 1)], ddl)
                    else:
                        nxt = cur.groupBy("k").agg(
                            (F.sum("v") + F.lit(1)).alias("v")
                        ).select("k", "v")
                    statestore.publish_state(nxt, path)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=worker) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    final = statestore.read_state(spark, path, ddl).collect()
    assert [tuple(r) for r in final] == [(0, 20)]


def test_q1_state_compaction_preserves_report_and_replay(
    spark, sf_dir, tmp_path
):
    """Replay-safe compaction: folding batches below the replay
    horizon (a) leaves the Q1 report bit-identical, (b) shrinks the
    state, and (c) keeps a LIVE batch's replay idempotent. A replay
    of a batch >= the horizon still replaces its own rows — the
    (stream, batch_id) key survives compaction for live batches."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.streaming import q1serve, statestore

    path = f"{tmp_path}/q1_compact"
    from spark_app_twitter_spark.sources.parquet import load_table

    li = load_table(spark, sf_dir, "lineitem")
    batches = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    for i, b in enumerate(batches):
        q1serve.apply_q1_batch(b, i, path)
    before = sorted(
        tuple(r)
        for r in q1serve.q1_report_from_partials(spark, path).collect()
    )
    n_rows_before = statestore.read_state(
        spark, path, q1serve._PARTIAL_DDL
    ).count()

    # horizon 2: batches 0 and 1 are committed, batch 2 may replay
    statestore.compact_partials(
        spark,
        path,
        q1serve._PARTIAL_DDL,
        ["l_returnflag", "l_linestatus"],
        ["sq", "sbp", "sdp", "sch", "sdisc", "cnt"],
        min_live_batch=2,
    )
    after_state = statestore.read_state(spark, path, q1serve._PARTIAL_DDL)
    assert after_state.count() < n_rows_before
    assert sorted(
        tuple(r)
        for r in q1serve.q1_report_from_partials(spark, path).collect()
    ) == before

    # live-batch replay still exactly-once after compaction
    q1serve.apply_q1_batch(batches[2], 2, path)
    assert sorted(
        tuple(r)
        for r in q1serve.q1_report_from_partials(spark, path).collect()
    ) == before

    # a second compaction re-folds the sentinel row (-1 < horizon)
    statestore.compact_partials(
        spark,
        path,
        q1serve._PARTIAL_DDL,
        ["l_returnflag", "l_linestatus"],
        ["sq", "sbp", "sdp", "sch", "sdisc", "cnt"],
        min_live_batch=3,
    )
    assert sorted(
        tuple(r)
        for r in q1serve.q1_report_from_partials(spark, path).collect()
    ) == before


def test_decon_admission_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streaming decontamination admission gate quarantines
    EXACTLY the docs the batch bloom report flags (n_hit_grams > 0),
    with identical audit columns (one shared bloom_gate definition),
    admits the rest, and partitions both sinks by batch id. Fed the
    non-benchmark corpus in two micro-batches."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators import textstats
    from spark_app_twitter_spark.streaming import deconmonitor

    want = {
        (r.doc_id, r.n_candidates, r.n_hit_grams)
        for r in textstats.decontaminate_bloom(spark, sf_dir)
        .where(F.col("n_hit_grams") > 0)
        .collect()
    }
    assert want, "fixture must plant contaminated docs"

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(
            F.col("doc_id") % textstats.DECON_BENCH_MOD
            != textstats.DECON_BENCH_REM
        )
        .select("doc_id", "text")
    )
    n_train = docs.count()
    src = str(tmp_path / "wire")
    os.makedirs(src)
    rows = docs.collect()
    for part in (0, 1):
        with open(os.path.join(src, f"p{part}.json"), "w") as f:
            for r in rows:
                if r.doc_id % 2 == part:
                    f.write(
                        _json.dumps({"doc_id": r.doc_id, "text": r.text})
                        + "\n"
                    )
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(src)
    clean, quar = f"{tmp_path}/clean", f"{tmp_path}/quarantine"
    q = deconmonitor.admit_stream(
        stream, spark, sf_dir, clean, quar, f"{tmp_path}/ckpt"
    )
    q.awaitTermination(300)
    got = {
        (r.doc_id, r.n_candidates, r.n_hit_grams)
        for r in spark.read.parquet(quar).collect()
    }
    assert got == want
    admitted = spark.read.parquet(clean)
    assert admitted.count() == n_train - len(want)
    # two micro-batches -> batch-partitioned layout on both sinks
    assert admitted.select("batch_id").distinct().count() == 2


def test_scd2_replay_drains_audit_and_restores_batch_equality(
    spark, tmp_path
):
    """The dead-letter repair: a late observation that the
    incremental merge CANNOT reconstruct (a collapsed same-value
    observation hid a revert) leaves the state diverging from the
    batch rebuild and the user audited; scd2_replay_late_users over
    the full log restores exact batch equality, carries untouched
    users verbatim, and drains the worklist."""
    import datetime as dt

    from spark_app_twitter_spark.operators.versioning import (
        scd2_from_observations,
    )
    from spark_app_twitter_spark.streaming.scd2serve import (
        apply_scd2_batch,
        scd2_late_audit,
        scd2_replay_late_users,
        scd2_table,
    )

    def ts(d):
        return dt.datetime(2024, 1, d)

    ddl = "user_id long, attr_k int, ts timestamp, event_id long"
    path = f"{tmp_path}/scd2_replay"
    # user 1: k10@t1, k10@t4 (collapses: no change), k11@t5
    # user 2: in-order control
    b0 = spark.createDataFrame(
        [
            (1, 10, ts(1), 100),
            (1, 10, ts(4), 101),
            (1, 11, ts(5), 102),
            (2, 20, ts(2), 200),
        ],
        ddl,
    )
    apply_scd2_batch(b0, 0, path)
    # late arrival k12@t2: the batch rebuild inserts a k12 interval
    # AND a k10 revert at t4 — the collapsed t4 observation is gone
    # from the stored changes, so the incremental merge can't see it
    b1 = spark.createDataFrame([(1, 12, ts(2), 103)], ddl)
    apply_scd2_batch(b1, 1, path)
    full_log = b0.unionByName(b1)
    want = sorted(
        tuple(r)
        for r in scd2_from_observations(full_log).collect()
    )
    got_incremental = sorted(
        tuple(r)
        for r in scd2_table(spark, path)
        .select(*[f.name for f in scd2_from_observations(full_log).schema])
        .collect()
    )
    assert got_incremental != want, "fixture must force divergence"
    assert scd2_late_audit(spark, path).count() == 1

    n = scd2_replay_late_users(spark, full_log, path)
    assert n == 1
    got = sorted(
        tuple(r)
        for r in scd2_table(spark, path)
        .select(*[f.name for f in scd2_from_observations(full_log).schema])
        .collect()
    )
    assert got == want
    assert scd2_late_audit(spark, path).count() == 0
    # idempotent: nothing left to replay
    assert scd2_replay_late_users(spark, full_log, path) == 0


def test_quality_floor_stream_fold_matches_batch_calibration(
    spark, sf_dir, tmp_path
):
    """The quality-histogram maintainer: after folding the corpus in
    three batches, the state-derived floors equal the one-pass batch
    calibration bit-for-bit; a batch retry replaces its own rows
    (exactly-once); prefixes serve valid intermediate floors."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.textstats import (
        quality_floor_by_source,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.qualitymon import (
        apply_quality_batch,
        quality_floor_from_state,
    )

    path = f"{tmp_path}/qhist"
    docs = load_table(spark, sf_dir, "documents")
    chunks = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]

    apply_quality_batch(chunks[0], 0, path)
    apply_quality_batch(chunks[1], 1, path)
    # intermediate state serves: every represented source gets a
    # floor over the prefix's own distribution
    mid = quality_floor_from_state(spark, path).collect()
    assert mid and all(r.n_below < -(-r.n_docs * 2500 // 10000) for r in mid)

    apply_quality_batch(chunks[2], 2, path)
    got = sorted(
        tuple(r) for r in quality_floor_from_state(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in quality_floor_by_source(spark, sf_dir).collect()
    )
    assert got == want

    # foreachBatch retry of batch 2 replaces its own (stream,
    # batch_id) rows — the fold stays exactly-once
    apply_quality_batch(chunks[2], 2, path)
    again = sorted(
        tuple(r) for r in quality_floor_from_state(spark, path).collect()
    )
    assert again == got


def test_quality_floor_state_compaction_bounds_and_preserves(
    spark, sf_dir, tmp_path
):
    """ADVICE r12: batches aged past COMPACT_RETAIN fold into the
    (stream, batch_id=-1) sentinel, so stored rows stay bounded by
    RETAIN+1 batch keys while the served floors still equal the
    one-pass batch calibration, and a trailing-batch retry stays
    exactly-once."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.textstats import (
        quality_floor_by_source,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.qualitymon import (
        COMPACT_RETAIN,
        apply_quality_batch,
        quality_floor_from_state,
    )
    from spark_app_twitter_spark.streaming.statestore import read_state

    path = f"{tmp_path}/qhist_compact"
    docs = load_table(spark, sf_dir, "documents")
    n_batches = COMPACT_RETAIN + 5
    for i in range(n_batches):
        apply_quality_batch(
            docs.where(F.col("doc_id") % n_batches == i), i, path
        )

    ddl = "stream string, batch_id long, source string, bucket int, c long"
    stored = read_state(spark, path, ddl)
    ids = {r.batch_id for r in stored.select("batch_id").distinct().collect()}
    assert -1 in ids, "aged batches must fold into the sentinel row"
    # individual ids span [last - RETAIN, last] plus the sentinel
    assert len(ids) <= COMPACT_RETAIN + 2
    assert min(i for i in ids if i != -1) >= n_batches - 1 - COMPACT_RETAIN

    got = sorted(
        tuple(r) for r in quality_floor_from_state(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in quality_floor_by_source(spark, sf_dir).collect()
    )
    assert got == want

    # retrying the trailing batch replaces its own rows; the sentinel
    # (already folded) is untouched — still exactly-once end to end
    apply_quality_batch(
        docs.where(F.col("doc_id") % n_batches == n_batches - 1),
        n_batches - 1,
        path,
    )
    again = sorted(
        tuple(r) for r in quality_floor_from_state(spark, path).collect()
    )
    assert again == got


def test_quota_stream_fold_matches_batch_sampler(spark, sf_dir, tmp_path):
    """VERDICT r12 item 8 (half 1): the topic-quota keep set is a
    lowest-K-per-cell fold (associative + idempotent), so after
    draining the embedding corpus in micro-batches the state-derived
    sample equals cluster_balanced_sample bit-for-bit — including
    cell_size from the additively-folded size relation — and a
    trailing-batch replay changes nothing (exactly-once)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.quotamon import (
        apply_quota_batch,
        quota_sample_from_state,
    )

    path = f"{tmp_path}/quota"
    emb = load_table(spark, sf_dir, "embeddings")
    for i in range(3):
        apply_quota_batch(emb.where(F.col("vec_id") % 3 == i), i, path, sf_dir)

    got = sorted(
        tuple(r) for r in quota_sample_from_state(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in cluster_balanced_sample(spark, sf_dir).collect()
    )
    assert got == want

    # checkpoint-recovery replay of the trailing batch: candidate
    # fold is idempotent, size rows replace their own batch_id
    apply_quota_batch(emb.where(F.col("vec_id") % 3 == 2), 2, path, sf_dir)
    again = sorted(
        tuple(r) for r in quota_sample_from_state(spark, path).collect()
    )
    assert again == got


def test_quota_size_state_compaction_bounds_and_preserves(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: quotamon's SIZE_COMPACT_RETAIN path was untested
    (the 3-batch fold test never ages a batch). Drive RETAIN+5
    micro-batches — one of them with within-batch duplicate vec_ids —
    and check (a) aged size rows fold into the batch_id=-1 sentinel,
    (b) stored batch keys stay bounded by RETAIN+2, (c) the served
    sample still equals the one-pass batch sampler bit-for-bit, and
    (d) a trailing-batch retry is exactly-once."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.quotamon import (
        SIZE_COMPACT_RETAIN,
        apply_quota_batch,
        quota_sample_from_state,
    )
    from spark_app_twitter_spark.streaming.statestore import read_state

    path = f"{tmp_path}/quota_compact"
    emb = load_table(spark, sf_dir, "embeddings")
    n_batches = SIZE_COMPACT_RETAIN + 5
    for i in range(n_batches):
        part = emb.where(F.col("vec_id") % n_batches == i)
        if i == 0:
            # at-least-once duplication WITHIN a micro-batch: the
            # vec_id dedup keeps both folds idempotent (ADVICE r13)
            part = part.unionByName(part)
        apply_quota_batch(part, i, path, sf_dir)

    stored = read_state(
        spark, f"{path}/sizes", "batch_id long, cell int, n long"
    )
    ids = {r.batch_id for r in stored.select("batch_id").distinct().collect()}
    assert -1 in ids, "aged size batches must fold into the sentinel row"
    assert len(ids) <= SIZE_COMPACT_RETAIN + 2
    assert min(i for i in ids if i != -1) >= n_batches - 1 - SIZE_COMPACT_RETAIN

    got = sorted(
        tuple(r) for r in quota_sample_from_state(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in cluster_balanced_sample(spark, sf_dir).collect()
    )
    assert got == want

    # retrying the trailing batch replaces its own size rows; the
    # sentinel (already folded) is untouched — still exactly-once
    apply_quota_batch(
        emb.where(F.col("vec_id") % n_batches == n_batches - 1),
        n_batches - 1,
        path,
        sf_dir,
    )
    again = sorted(
        tuple(r) for r in quota_sample_from_state(spark, path).collect()
    )
    assert again == got


def test_v4_admission_stream_equals_batch_funnel_stages(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 item 8 (half 2): drive BOTH v4 curation stages
    through real availableNow streams (docs -> quality histogram,
    embeddings -> topic quota) and check the state-derived admission
    equals the batch funnel's qgate ∩ quota on the same corpus —
    stream == batch, the windowed.py discipline."""
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions.text import tokens
    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from spark_app_twitter_spark.operators.textstats import (
        QUALITY_FLOOR_GRID,
        quality_floor_by_source,
        quality_score_expr,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.qualitymon import (
        maintain_quality_stream,
    )
    from spark_app_twitter_spark.streaming.quotamon import (
        maintain_quota_stream,
        v4_admission_from_state,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    dsrc = f"{tmp_path}/docs_src"
    os.makedirs(dsrc)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).json(dsrc)
    esrc = f"{tmp_path}/emb_src"
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(esrc)

    hist_path = f"{tmp_path}/qhist"
    quota_path = f"{tmp_path}/quota"
    q1 = maintain_quality_stream(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(dsrc),
        hist_path,
        f"{tmp_path}/ckpt_hist",
        trigger_available_now=True,
    )
    q1.awaitTermination(120)
    q2 = maintain_quota_stream(
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(esrc),
        quota_path,
        f"{tmp_path}/ckpt_quota",
        sf_dir,
        trigger_available_now=True,
    )
    q2.awaitTermination(180)

    got = sorted(
        r.doc_id
        for r in v4_admission_from_state(
            spark, sf_dir, hist_path, quota_path
        ).collect()
    )
    # the batch funnel's qgate ∩ quota, from the same definitions
    # _v4_stage_frames composes
    bucket = F.floor(
        quality_score_expr(tokens("text")) * F.lit(QUALITY_FLOOR_GRID)
    ).cast("int")
    floors = quality_floor_by_source(spark, sf_dir).select(
        "source", "floor_bucket"
    )
    qgate = (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(floors), "source")
        .where(F.col("bucket") >= F.col("floor_bucket"))
        .select("doc_id")
    )
    quota = cluster_balanced_sample(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id")
    )
    want = sorted(
        r.doc_id
        for r in qgate.join(quota, "doc_id", "left_semi").collect()
    )
    assert got and got == want


def test_quality_floor_real_stream_available_now(spark, sf_dir, tmp_path):
    """maintain_quality_stream through a real availableNow file
    stream (maxFilesPerTrigger=1 forces multiple micro-batches):
    the folded state reproduces the batch calibration exactly."""
    import os

    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.textstats import (
        quality_floor_by_source,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.qualitymon import (
        maintain_quality_stream,
        quality_floor_from_state,
    )

    src = f"{tmp_path}/docs_src"
    os.makedirs(src)
    docs = load_table(spark, sf_dir, "documents")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).json(src)

    path = f"{tmp_path}/qhist_stream"
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = maintain_quality_stream(
        stream,
        path,
        f"{tmp_path}/ckpt",
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r) for r in quality_floor_from_state(spark, path).collect()
    )
    want = sorted(
        tuple(r) for r in quality_floor_by_source(spark, sf_dir).collect()
    )
    assert got == want


def test_quota_cross_batch_redelivery_pins_contract(
    spark, sf_dir, tmp_path
):
    """VERDICT r14 item 5: quantify the documented at-least-once gap.
    maintain_quota_stream's delivery contract says a vec_id
    re-delivered in a LATER micro-batch counts once in the candidate
    fold (dropDuplicates) but TWICE in the size fold (batch_id-keyed
    only). Drive a deliberately duplicate-delivering source — batch 1
    re-presents all of batch 0 — and pin both halves: the sampled
    rows (vec_id, cell, rk) still equal the batch sampler exactly,
    while each cell_size is inflated by EXACTLY that cell's count of
    re-delivered ids (not corrupted further, not candidate-visible)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
        kmeans_cells,
    )
    from spark_app_twitter_spark.sources.parquet import load_table
    from spark_app_twitter_spark.streaming.quotamon import (
        apply_quota_batch,
        quota_sample_from_state,
    )

    path = f"{tmp_path}/quota_dup"
    emb = load_table(spark, sf_dir, "embeddings")
    b0 = emb.where(F.col("vec_id") % 3 == 0)
    apply_quota_batch(b0, 0, path, sf_dir)
    # cross-batch at-least-once duplication: batch 1 re-delivers b0
    apply_quota_batch(
        emb.where(F.col("vec_id") % 3 == 1).unionByName(b0), 1, path, sf_dir
    )
    apply_quota_batch(emb.where(F.col("vec_id") % 3 == 2), 2, path, sf_dir)

    got = {
        (r.vec_id, r.cell, r.rk): r.cell_size
        for r in quota_sample_from_state(spark, path).collect()
    }
    want = {
        (r.vec_id, r.cell, r.rk): r.cell_size
        for r in cluster_balanced_sample(spark, sf_dir).collect()
    }
    # half 1: the sample itself is redelivery-proof
    assert set(got) == set(want)
    # half 2: sizes diverge by exactly the per-cell re-delivered count
    dup_per_cell = {
        r.cell: r.n
        for r in kmeans_cells(spark, sf_dir)
        .where(F.col("vec_id") % 3 == 0)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert any(dup_per_cell.values()), "fixture must re-deliver something"
    for key, size in got.items():
        cell = key[1]
        assert size == want[key] + dup_per_cell.get(cell, 0)


def test_quota_replay_twin_serves_batch_sampler_exactly(spark, sf_dir):
    """r16 optimization guard: quota_sample_replayed now derives each
    replay batch's delta from the PUBLISHED flat cell table
    (clustering.kmeans_cells) instead of re-assigning per batch —
    the served frame must still equal the one-pass batch sampler
    bit-for-bit (the same equality the DuckDB oracle checks)."""
    from spark_app_twitter_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from spark_app_twitter_spark.streaming.quotamon import (
        quota_sample_replayed,
    )

    got = sorted(
        tuple(r) for r in quota_sample_replayed(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r) for r in cluster_balanced_sample(spark, sf_dir).collect()
    )
    assert got == want


def test_quality_floor_replay_twin_serves_batch_calibration_exactly(
    spark, sf_dir
):
    """r16 optimization guard: quality_floor_replayed now derives ALL
    per-batch histogram deltas from ONE corpus pass (grouped by the
    modular batch key) — the served floors must still equal the
    one-pass batch calibration bit-for-bit."""
    from spark_app_twitter_spark.operators.textstats import (
        quality_floor_by_source,
    )
    from spark_app_twitter_spark.streaming.qualitymon import (
        quality_floor_replayed,
    )

    got = sorted(
        tuple(r) for r in quality_floor_replayed(spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in quality_floor_by_source(spark, sf_dir).collect()
    )
    assert got == want


def test_quality_replay_one_pass_deltas_match_per_batch_deltas(spark, sf_dir):
    """The one-pass grouped delta table must reproduce each per-batch
    histogram EXACTLY (counting commutes with partitioning the rows)
    — the per-batch state snapshots a recovery would read are then
    identical to the old per-batch-scan fold's."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.textstats import (
        quality_hist_frame,
    )
    from spark_app_twitter_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    grouped = quality_hist_frame(
        docs,
        group_extra=(("batch_id", (F.col("doc_id") % 3).cast("long")),),
    )
    for i in range(3):
        got = sorted(
            (r.source, r.bucket, r.c)
            for r in grouped.where(F.col("batch_id") == i).collect()
        )
        want = sorted(
            tuple(r)
            for r in quality_hist_frame(
                docs.where(F.col("doc_id") % 3 == i)
            ).collect()
        )
        assert got == want
