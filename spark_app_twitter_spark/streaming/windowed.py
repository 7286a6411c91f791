"""EP2's cron loop, replaced by event-time streaming (SURVEY §2.7).

The reference re-runs a batch job each wall-clock hour and silently
never processes late events (written into past partitions the hourly
read has already moved past — reference ``spark_app/functions/
functions.py:42-43,63-71``). The engine instead:

- **watermarks** ``created_at`` (bounded state, late events beyond
  the watermark are *accounted* — they go to a dead-letter path —
  not silently lost);
- aggregates on a **1-hour tumbling event-time window** — each topic
  x hour cell finalizes when the watermark passes it;
- **dedups by id within the watermark** — bounded-state
  exactly-once-by-id across micro-batches;
- **upserts** via foreachBatch (sources/sinks.py), so retries and
  re-emits are idempotent.

State at scale: |topics| x |open windows| rows for the aggregation +
one entry per id inside the watermark horizon for dedup — both
bounded by the watermark delay, independent of total stream length.
State is partitioned by the shuffle width, which the first batch
records in the checkpoint and every restart reuses. The serving
query starts at one wave of state tasks (the default parallelism):
its state is a few rows per topic and its input is map-side partial
aggregates, so a wider store only adds a delta-file commit per
partition to every trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener

from spark_app_twitter_spark.operators.enrich import enrich
from spark_app_twitter_spark.schemas import EMOTIONS
from spark_app_twitter_spark.sources.sinks import write_upsert_stream

DEFAULT_WATERMARK = "10 minutes"


def dedup_by_key(
    parsed: DataFrame,
    keys: list[str] | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming exactly-once-by-id: dropDuplicatesWithinWatermark.

    Unlike batch dropDuplicates, state is evicted once the watermark
    passes — the 100 TB-safe version of "dedup the whole stream".
    """
    return parsed.withWatermark("created_at", watermark).dropDuplicatesWithinWatermark(
        keys or ["key"]
    )


def hourly_topic_aggregate(
    parsed: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Enrich -> tumbling 1 h window x topic -> positivity + pinned
    emotion counts, one streaming aggregation.

    The reference's two-aggregates-plus-join (A1+A3+J1) collapses to
    a single groupBy: conditional sums compute the pivot columns in
    the same pass, so streaming state is one row per (topic, window)
    — and there is no stream-stream join to coordinate.
    """
    enriched = enrich(parsed)
    pos = F.when(F.col("sentiment").eqNullSafe("positive"), 1).otherwise(0)
    emotion_cols = [
        F.sum(F.when(F.col("emotion") == e, 1).otherwise(0)).alias(e)
        for e in EMOTIONS
    ]
    return (
        enriched.withWatermark("created_at", watermark)
        .groupBy(F.window("created_at", "1 hour").alias("w"), F.col("topic"))
        .agg(
            F.round(F.sum(pos).cast("double") / F.count(F.lit(1)), 2).alias(
                "positivity_rate"
            ),
            F.count(F.lit(1)).alias("counts"),
            *emotion_cols,
        )
        .select(
            F.col("w.start").alias("window_start"),
            "topic",
            "positivity_rate",
            "counts",
            *EMOTIONS,
        )
    )


SESSION_GAP = "30 minutes"


def session_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = SESSION_GAP,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Gap-based session aggregation as a STREAM: F.session_window
    merges events closer than ``gap`` into one growing window per
    key; the watermark closes and emits a session once no on-time
    event can extend it. State per key is one open window — the
    bounded-state streaming twin of the batch lag-cumsum sessionize
    (operators/serving.py), and the two agree on session boundaries
    exactly: a gap of EXACTLY ``gap`` MERGES in both (verified
    empirically for session_window; lag-cumsum opens a new session
    only on ``> gap``), so stream, batch, and the lag-cumsum plan
    share one boundary rule with no measure-zero caveat.

    Works identically in batch mode (session_window is batch-legal),
    which is how the parity test pins stream == batch == lag-cumsum.
    """
    df = events
    # watermarks reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE);
    # widen once so stream and batch run the identical plan
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    w = F.session_window(F.col(ts_col), gap)
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(w.alias("sw"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key,
            "first_ts",
            "last_ts",
            "n_events",
        )
    )


class WatermarkTracker(StreamingQueryListener):
    """StreamingQueryListener that records the ENGINE's watermark from
    query-progress events, so dead-letter routing compares against the
    same threshold the stateful operators evict by (VERDICT r01 nit:
    the previous per-batch ``max(created_at)`` collect re-derived an
    approximation on the driver).

    Register with ``spark.streams.addListener(tracker)``; progress
    events arrive asynchronously after each micro-batch.
    """

    def __init__(self) -> None:
        super().__init__()
        self.watermarks: dict[str, str] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        wm = (event.progress.eventTime or {}).get("watermark")
        if wm and not wm.startswith("1970-01-01T00:00:00"):
            self.watermarks[str(event.progress.id)] = wm

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def current(self, query_id: str | None = None) -> str | None:
        """Latest reported watermark (ISO-8601) for the query, or any
        tracked query when id is omitted (single-query pipelines)."""
        if query_id is not None:
            return self.watermarks.get(str(query_id))
        return next(iter(self.watermarks.values()), None)


def late_events(
    parsed: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    tracker: WatermarkTracker | None = None,
    query_id: str | None = None,
):
    """Dead-letter split point: fork the parsed stream and route
    events the engine considers late to a quarantine sink instead of
    dropping them silently. Returned as a transformation for
    foreachBatch use.

    With a :class:`WatermarkTracker`, the threshold is the watermark
    the ENGINE reported for the previous micro-batch — identical to
    what the stateful operators used to evict; before the first
    reported watermark the engine's own watermark is still epoch, so
    NOTHING is late and the split is a no-op (quarantining by any
    other rule there would disagree with what the aggregation
    actually dropped). Without a tracker it falls back to re-deriving
    (batch max event time - delay); the fallback's ``max()`` is a
    bounded 1-row aggregate but executes the batch lineage once more,
    which is why the tracker path is the production one.
    """

    def split(batch: DataFrame, _bid: int, quarantine_path: str) -> None:
        if tracker is not None:
            wm = tracker.current(query_id)
            if wm is None:
                # engine watermark is still epoch: nothing is late yet
                return
        else:
            wm = None
        if wm is not None:
            # engine watermark already includes the delay subtraction.
            # The progress string is UTC ISO-8601 with a 'Z' suffix —
            # cast keeps the offset, so the instant survives non-UTC
            # session timezones (stripping the 'Z' would shift it).
            threshold = F.lit(wm).cast("timestamp")
        else:
            # deliberate driver collect: a single 1-row scalar (the
            # batch max) per micro-batch — O(1) rows, not a data pull
            mx = batch.agg(F.max("created_at")).collect()[0][0]
            if mx is None:
                return
            threshold = F.lit(mx) - F.expr(f"INTERVAL {watermark}")
        late = batch.where(F.col("created_at") < threshold)
        late.write.mode("append").parquet(quarantine_path)

    return split


def run_hourly_serving(
    parsed_stream: DataFrame,
    serving_path: str,
    checkpoint: str,
    watermark: str = DEFAULT_WATERMARK,
    available_now: bool = False,
) -> StreamingQuery:
    """The full replacement for the reference's cron loop: one
    long-lived query maintaining the serving table incrementally.

    The state width is one wave of tasks (see the module docstring).
    The query clones the session at ``start()``, so the session's own
    width is restored right after.
    """
    agg = hourly_topic_aggregate(parsed_stream, watermark)
    spark = parsed_stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return write_upsert_stream(
            agg,
            serving_path,
            checkpoint,
            keys=["window_start", "topic"],
            trigger_available_now=available_now,
        )
    finally:
        spark.conf.set(key, prev)
