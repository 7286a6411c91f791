"""Sinks: partitioned parquet stream sink, idempotent foreachBatch
upsert, and the (optional) MongoDB serving sink.

The reference's sinks: S2 checkpointed parquet stream sink
(``spark_app/functions/functions.py:47-54``) and S4 MongoDB append
(``functions.py:117``). The append-only Mongo sink is why its
dashboard must dedup on read — the engine's foreachBatch sink
upserts by key instead, making reruns idempotent. A foreachBatch
frame is RDD-backed, so each extra reference to it re-runs the
upstream plan, including its state-store commits. A foreachBatch
body runs in the stream's cloned session: adaptive execution is off
there and the shuffle width is the one pinned by the checkpoint, so
nothing coalesces a small shuffle and the upsert chooses its own
width — one partition, one file.

Parquet tables that are rewritten from their own contents (the
upsert, compaction) are published by directory swap: the new table
is written to a staging sibling of the path, then the path is
renamed to a ``previous`` sibling, staging is renamed to the path,
and ``previous`` is deleted. Reads of the old table and the write of
the new one touch different directories, so no materialization
barrier is needed and readers see the old table, briefly no table,
then the new table — never an empty or half-written one (a scan that
spans the swap fails on a moved file and must be retried). Each rewrite
starts by finishing or rolling back a swap that a crash interrupted
(see :func:`_recover`), which assumes one writer per path. The
renames go through the path's Hadoop ``FileSystem`` and are atomic on
HDFS and local disks; object stores (S3, GCS) copy and delete on
rename, so there the swap is neither atomic nor cheap, and a table
format with MERGE INTO (Delta, Iceberg) is the production answer.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from spark_app_twitter_spark.functions.caches import register_cache

# The datalake's trigger interval when it runs continuously. Its
# readers (backfill_serving, the hourly batch jobs) read whole hours,
# so a few seconds of lag is invisible to them, while every ingest
# trigger pays checkpoint-log writes, a source listing, a job and one
# file per task and hour partition on the driver and cores that the
# serving query shares.
LAKE_TRIGGER = "5 seconds"

# Schema of each table the upsert published, per (applicationId,
# qualified path): later upserts read the table with it instead of
# running a schema-inference job. A table the session did not publish
# is inferred. One writer per path keeps the entry current; call
# clear_session_caches() after rewriting the path by other means.
_TABLE_SCHEMA: dict[tuple, object] = register_cache({})


def write_partitioned_parquet_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: Sequence[str] = ("date", "hour"),
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """S2: exactly-once parquet datalake sink, hive-partitioned.

    Exactly-once comes from checkpoint + the sink's _spark_metadata
    commit log. ``availableNow`` drains the source and stops —
    deterministic for tests and batch-backfill runs. Otherwise the
    query triggers every :data:`LAKE_TRIGGER`, on its own cadence
    rather than back to back.
    """
    w: DataStreamWriter = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*partition_cols)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=LAKE_TRIGGER)
    return w.start()


def _table(spark: SparkSession, path: str):
    """(FileSystem, fully qualified Hadoop path) of ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def _sibling(spark: SparkSession, table, suffix: str):
    """A hidden (dot-prefixed) sibling of ``table``, so listings of the
    parent directory skip it."""
    name = f".{table.getName()}.{suffix}"
    return spark._jvm.org.apache.hadoop.fs.Path(table.getParent(), name)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src.toString()} to {dst.toString()}")


def _recover(spark: SparkSession, fs, table) -> None:
    """Finish or roll back an interrupted swap. A ``previous`` sibling
    next to a missing table means the crash came between the two
    renames: ``previous`` is the whole old table (a directory rename
    is atomic), so it is renamed back and the interrupted batch is
    re-applied to it. Next to an existing table it is the leftover of
    a completed swap. Staging directories are leftovers of failed
    attempts."""
    previous = _sibling(spark, table, "previous")
    if fs.exists(previous):
        if fs.exists(table):
            fs.delete(previous, True)
        else:
            _rename(fs, previous, table)
    for st in fs.globStatus(_sibling(spark, table, "staging-*")) or []:
        fs.delete(st.getPath(), True)


def _publish(out: DataFrame, fs, table) -> None:
    """Write ``out`` to a staging sibling named per attempt, then swap
    it in for ``table`` (see the module docstring)."""
    spark = out.sparkSession
    staging = _sibling(spark, table, f"staging-{uuid.uuid4().hex}")
    previous = _sibling(spark, table, "previous")
    out.write.parquet(staging.toString())
    if fs.exists(table):
        _rename(fs, table, previous)
    _rename(fs, staging, table)
    fs.delete(previous, True)


def upsert_parquet_batch(
    batch: DataFrame, batch_id: int, path: str, keys: Sequence[str]
) -> None:
    """foreachBatch body: last-writer-wins upsert into a parquet
    serving table.

    Unions the current table, tagged ``_new=false``, with the batch,
    tagged ``_new=true``, and keeps for each key the rows whose tag
    equals ``max(_new)`` over the key: the batch's rows when the key
    is in the batch, the table's otherwise. ``batch`` is referenced
    once, so the upstream plan runs once per trigger, inside the one
    job that writes the new table. (Parquet has no row-level merge;
    with Delta/Iceberg this becomes a MERGE INTO and the rewrite
    disappears — the foreachBatch contract is unchanged.)

    The table is a bounded aggregate (one row per topic x hour) and
    a foreachBatch body gets no adaptive sizing (see the module
    docstring), so the union goes to one partition before the window:
    one partition satisfies the window's clustering, so no second
    exchange runs, and the table is written as one file.

    The new table is published by directory swap (module docstring):
    readers never see it empty. A crash between the swap's two renames
    leaves the old table in the ``previous`` sibling; the next call —
    the re-run of the same batch, since it never committed — renames
    it back first, so the batch is re-applied to the old table instead
    of being taken for the first one. One writer per serving path.

    A table this session has not published is read by inferring its
    schema; the schema of each table the session publishes is
    recorded, and later upserts read the table with it, skipping the
    inference job. Either way a table whose columns differ from the
    batch's fails ``unionByName`` loudly.

    Key rules: duplicate keys inside one batch are all kept; null is
    a key like any other, so a null-key row is replaced by the next
    batch that carries one, not duplicated. Deterministic under
    retries: re-applying the same batch yields the same table
    (idempotent upsert), which is exactly the guarantee foreachBatch
    needs since a batch may be re-run.
    """
    spark = batch.sparkSession
    fs, table = _table(spark, path)
    _recover(spark, fs, table)
    skey = (spark.sparkContext.applicationId, table.toString())
    published = _TABLE_SCHEMA.get(skey)
    try:
        if published is not None:
            current = spark.read.schema(published).parquet(path)
        else:
            current = spark.read.parquet(path)
    except Exception as e:
        # ONLY the missing-path case means "first batch". Any other
        # read failure (permissions, corrupt footer, concurrent
        # writer) must fail the streaming query loudly — falling
        # through would overwrite the serving table with just this
        # micro-batch (unbounded data loss).
        err_class = ""
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if callable(fn):
                try:
                    err_class = fn() or ""
                    break
                except Exception:
                    pass
        if "PATH_NOT_FOUND" not in err_class and "Path does not exist" not in str(e):
            raise
        out = batch.repartition(1)
    else:
        tagged = (
            current.withColumn("_new", F.lit(False))
            .unionByName(batch.withColumn("_new", F.lit(True)))
            .repartition(1)
        )
        out = (
            tagged.withColumn("_newest", F.max("_new").over(Window.partitionBy(*keys)))
            .where(F.col("_new") == F.col("_newest"))
            .drop("_new", "_newest")
        )
    _publish(out, fs, table)
    _TABLE_SCHEMA[skey] = out.schema


def write_upsert_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """S4 replacement: streaming upsert into the serving table via
    foreachBatch — idempotent by key, so the dashboard's
    dedup-on-read workaround (``streamlit/utilities/utilities.py:27``)
    becomes unnecessary (the engine still ships it as a serving
    query for parity)."""
    w = (
        df.writeStream.foreachBatch(
            lambda b, i: upsert_parquet_batch(b, i, path, keys)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def mongo_write_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """The EXACT option dict the mongo-spark connector receives —
    single source of truth shared by :func:`write_mongo_batch` and
    the connector contract test (reference surface:
    ``spark_app/functions/functions.py:117``)."""
    return {
        "spark.mongodb.write.connection.uri": uri,
        "spark.mongodb.write.database": database,
        "spark.mongodb.write.collection": collection,
    }


def write_mongo_batch(df: DataFrame, uri: str, database: str, collection: str):
    """S4: the mongodb append sink. With the connector jar this is
    the live cluster write; since round 8 the registered Python wire
    twin (sources/mongo_pysource.py) serves the same format name in
    tests, so ``save()`` executes the full plan -> per-partition
    write -> two-phase commit path either way."""
    return (
        df.write.format("mongodb")
        .mode("append")
        .options(**mongo_write_options(uri, database, collection))
    )


def write_mongo_stream(
    df: DataFrame,
    uri: str,
    database: str,
    collection: str,
    checkpoint: str,
    extra_options: dict[str, str] | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """The reference's EXACT EP2->EP3 wiring as a streaming query:
    per micro-batch, append the aggregate rows to the MongoDB
    collection (reference ``spark_app/functions/functions.py:117`` —
    append-only, dashboard dedups on read). foreachBatch + the batch
    writer, so the sink contract is identical for cron-style batch
    jobs and the streaming replacement; with the wire twin registered
    the path executes end-to-end in tests."""

    def _emit(batch: DataFrame, batch_id: int) -> None:
        w = write_mongo_batch(batch, uri, database, collection)
        if extra_options:
            w = w.options(**extra_options)
        w.save()

    w = (
        df.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def mongo_read_options(uri: str, database: str, collection: str) -> dict[str, str]:
    """S5 read-side option dict (single source of truth, mirroring
    :func:`mongo_write_options`; reference dashboard surface:
    ``streamlit/main.py:34-39``)."""
    return {
        "spark.mongodb.read.connection.uri": uri,
        "spark.mongodb.read.database": database,
        "spark.mongodb.read.collection": collection,
    }


def read_mongo_batch(
    spark: SparkSession,
    uri: str,
    database: str,
    collection: str,
    schema: str | None = None,
    extra_options: dict[str, str] | None = None,
):
    """S5: dashboard batch source over the mongodb format. With the
    connector jar this hits a live cluster; in tests the registered
    Python wire twin (sources/mongo_pysource.py) serves the same
    format name, so this builder executes verbatim either way
    (``extra_options`` carries harness-side knobs like the twin's
    store root; the real connector ignores unknown options)."""
    r = spark.read.format("mongodb").options(
        **mongo_read_options(uri, database, collection),
        **(extra_options or {}),
    )
    if schema is not None:
        r = r.schema(schema)
    return r.load()


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str,
    sort_cols: Sequence[str] = (),
) -> None:
    """Export a training corpus as exactly ``n_shards`` parquet files,
    rows hash-distributed by ``shard_key`` and sorted inside each
    shard.

    repartition(n, key) fixes the file count and makes shard
    membership a pure function of the key (stable across reruns —
    loaders can resume shard-by-shard); sortWithinPartitions orders
    rows without a global sort. At 100 TB this is the standard
    dataloader-friendly layout: no shard exceeds its hash share, and
    no driver-side coordination happens at all.
    """
    out = df.repartition(n_shards, shard_key)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    # The fixed file count IS the contract: with multi-stage upstream
    # plans, AQE's runtime coalescing can merge the explicit shard
    # shuffle when stats are small and silently emit fewer files —
    # pin it off for just this write.
    spark = df.sparkSession
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out.write.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(key, prev)


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    n_files: int,
    sort_cols: Sequence[str] = (),
) -> int:
    """Small-file compaction for an append/upsert-maintained parquet
    table: rewrite into exactly ``n_files`` files, optionally sorted
    within each file so min/max row-group stats support data skipping
    on the sort columns.

    The maintenance job every streaming sink eventually needs —
    micro-batches accrete many small files, and scan cost at 100 TB
    is dominated by file-open overhead once file count outgrows
    task count. Published by directory swap like the upsert (module
    docstring). Returns the row count, read from the new files'
    footers.
    """
    fs, table = _table(spark, path)
    _recover(spark, fs, table)
    df = spark.read.parquet(path)
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    _publish(out, fs, table)
    return spark.read.schema(df.schema).parquet(path).count()
