"""Composed pipelines — the engine's equivalent of the reference's
``run_job`` entry points (reference ``spark_app/functions/
functions.py:121-126``, ``spark_app/main.py:93-111``).

The reference runs two coupled jobs on a hand-rolled hourly loop:
(1) Kafka -> parquet datalake stream, restarted every hour on the
same checkpoint; (2) an hourly batch read of the previous wall-clock
hour -> NLP -> aggregate -> Mongo append. The engine replaces the
loop with two *long-lived* streaming queries sharing one parsed
stream definition — identical data products, none of the restart/
late-data defects (SURVEY §2.8).

The two queries run on two cadences. The serving query must be
fresh within seconds, so it takes the next micro-batch as soon as the
previous one ends; each of its triggers is one Spark job that writes
the upserted table to a staging directory and swaps it in
(sources/sinks.py). The datalake ingest feeds hour-granular batch
readers (``backfill_serving``, the hourly aggregate), to which a few
seconds of lag are invisible, so it triggers every
``sinks.LAKE_TRIGGER`` instead of back to back: fewer checkpoint-log
writes, listings, jobs and small files compete with the serving query
for the driver and the cores. Each query owns its trigger and both
sinks are idempotent, so neither depends on the other's pace.
``available_now`` drains both and stops.

A user of the reference maps their config 1:1::

    cfg = PipelineConfig(
        kafka_bootstrap="k1:9092,k2:9092",
        topics="Zelensky,Putin,Biden,NATO,NoFlyZone",
        datalake_path="s3a://bucket/raw",
        serving_path="s3a://bucket/serving",
        checkpoint_root="s3a://bucket/ckpt",
    )
    queries = run_pipeline(spark, cfg)       # two StreamingQuery handles
    ...
    for q in queries: q.stop()               # graceful shutdown
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from spark_app_twitter_spark.operators.ingest import parse_tweet_stream
from spark_app_twitter_spark.sources.kafka import read_kafka_stream
from spark_app_twitter_spark.streaming.ingest import read_json_stream
from spark_app_twitter_spark.streaming.windowed import run_hourly_serving
from spark_app_twitter_spark.sources.sinks import (
    write_partitioned_parquet_stream,
)


@dataclass
class PipelineConfig:
    topics: str = "Zelensky,Putin,Biden,NATO,NoFlyZone"
    kafka_bootstrap: str | None = None  # None -> file source (tests/dev)
    file_source_path: str | None = None
    datalake_path: str = "./datalake"
    serving_path: str = "./serving"
    checkpoint_root: str = "./checkpoints"
    watermark: str = "10 minutes"
    available_now: bool = False  # True: drain-and-stop (backfill/tests)


def source_stream(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    if cfg.kafka_bootstrap:
        return read_kafka_stream(spark, cfg.kafka_bootstrap, cfg.topics)
    if not cfg.file_source_path:
        raise ValueError("either kafka_bootstrap or file_source_path required")
    return read_json_stream(spark, cfg.file_source_path)


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig
) -> list[StreamingQuery]:
    """Start both long-lived queries: datalake ingest + hourly serving."""
    parsed = parse_tweet_stream(source_stream(spark, cfg))
    ingest_q = write_partitioned_parquet_stream(
        parsed,
        cfg.datalake_path,
        f"{cfg.checkpoint_root}/ingest",
        trigger_available_now=cfg.available_now,
    )
    serving_q = run_hourly_serving(
        parse_tweet_stream(source_stream(spark, cfg)),
        cfg.serving_path,
        f"{cfg.checkpoint_root}/serving",
        watermark=cfg.watermark,
        available_now=cfg.available_now,
    )
    return [ingest_q, serving_q]


def backfill_serving(
    spark: SparkSession,
    datalake_path: str,
    serving_path: str,
    date_from: str,
    date_to: str,
) -> None:
    """Operational catch-up: rebuild serving cells for a date range
    straight from the datalake (the reference has no such path — a
    missed hour is simply lost, SURVEY §2.8).

    Batch reuse of the streaming aggregation: hourly_topic_aggregate
    is source-agnostic, so backfill and live stream cannot drift.
    Partition pruning on the hive `date` column keeps the scan to the
    requested range; the upsert keys make re-running any range
    idempotent.
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.sources.sinks import upsert_parquet_batch
    from spark_app_twitter_spark.streaming.windowed import (
        hourly_topic_aggregate,
    )

    slice_ = spark.read.parquet(datalake_path).where(
        (F.col("date") >= date_from) & (F.col("date") <= date_to)
    )
    agg = hourly_topic_aggregate(slice_)
    upsert_parquet_batch(agg, -1, serving_path, keys=["window_start", "topic"])


def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> int:
    """The LLM-data capstone JOB: documents -> survivors of the
    corpus funnel (exact-dedup ∩ quality ∩ stratified sample) ->
    decontaminated against the held-out benchmark -> chunked into
    training windows -> exported as hash-stable shards. Returns the
    chunk count written.

    One composed lazy plan up to the shard write: the funnel/
    decontamination stages are semi/anti joins on doc_id (tiny key
    relations probe the corpus scan), chunking is the map-side
    explode, and the export repartitions once on doc_id. Nothing
    collects on the driver.
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.packing import chunk_documents
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
        corpus_funnel,
        decontaminate,
    )
    from spark_app_twitter_spark.sources.sinks import write_training_shards

    survivors = corpus_funnel(spark, sf_dir).select("doc_id")
    contaminated = decontaminate(spark, sf_dir).select("doc_id")
    chunks = (
        chunk_documents(spark, sf_dir)
        # the held-out benchmark docs themselves must NEVER train —
        # decontaminate() flags only the TRAINING docs that overlap
        # them, so both exclusions are needed
        .where((F.col("doc_id") % DECON_BENCH_MOD) != DECON_BENCH_REM)
        .join(survivors, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    write_training_shards(
        chunks, out_path, n_shards, "doc_id", sort_cols=["doc_id", "chunk_id"]
    )
    return spark.read.parquet(out_path).count()


def prepare_training_corpus_v2(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> dict:
    """The round-6 pipeline composed end-to-end — what a modern
    training-data build actually runs, each stage one of the
    engine's oracle-verified operators:

      1. segment-level paragraph dedup: drop docs that are mostly
         recycled segments (> half their segments already seen);
      2. near-dup clusters -> KEEP-BEST survivor per cluster
         (highest quality score, not lowest id);
      3. Bloom-prefiltered benchmark decontamination (drop docs with
         any true benchmark-gram hit);
      4. mixture epoch expansion to the target source shares;
      5. deterministic shuffle-shard export (epoch rides along, so a
         doc's repeats land in different shards).

    Returns counts per stage — the funnel report a pipeline owner
    reads. Every stage is a semi/anti join of tiny key relations
    against one corpus scan; nothing collects driver-side.
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.dedup import (
        cluster_best_representatives,
        paragraph_dedup,
    )
    from spark_app_twitter_spark.operators.textstats import (
        decontaminate_bloom,
        mixture_apply,
    )
    from spark_app_twitter_spark.sources.sinks import write_training_shards

    # Each stage frame is checkpointed: the export AND the funnel
    # counts below both consume it, and without the pin each count
    # would replay the stage's full lineage (CC rounds, bloom build,
    # segment shuffle) a second time.
    # 1. mostly-recycled docs out (strictly more dropped than kept
    # segments)
    seg = paragraph_dedup(spark, sf_dir).localCheckpoint(eager=True)
    seg_keep = seg.where(
        F.col("n_dropped") * 2 <= F.col("n_segments")
    ).select("doc_id")
    # 2. near-dup clusters: keep each cluster's best representative
    reps = (
        cluster_best_representatives(spark, sf_dir)
        .select(F.col("rep_doc_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    # 3. decontamination: any true benchmark-gram hit disqualifies
    contaminated = (
        decontaminate_bloom(spark, sf_dir)
        .where(F.col("n_hit_grams") > 0)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    # 4. epoch expansion (doc_id repeated per epoch)
    epochs = mixture_apply(spark, sf_dir).localCheckpoint(eager=True)
    survivors = (
        epochs.join(seg_keep, "doc_id", "left_semi")
        .join(reps, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
    )
    # 5. shuffled shard export: hash over (doc_id, epoch) so repeats
    # of a doc scatter across shards
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(
            F.concat_ws(":", F.col("doc_id"), F.col("epoch"))
        ),
    )
    write_training_shards(
        keyed,
        out_path,
        n_shards,
        "shuffle_key",
        sort_cols=["shuffle_key"],
    )
    written = spark.read.parquet(out_path)
    return {
        "corpus": seg.count(),
        "after_segment_gate": seg_keep.count(),
        "cluster_representatives": reps.count(),
        "contaminated": contaminated.count(),
        "epoch_rows": epochs.count(),
        "written_rows": written.count(),
        "distinct_docs_written": written.select("doc_id")
        .distinct()
        .count(),
    }


def _v3_stage_frames(
    spark: SparkSession, sf_dir: str, reps_frame: DataFrame | None = None
) -> dict:
    """ONE definition of the v3 funnel's stage relations, shared by
    the exporting job (prepare_training_corpus_v3) and the attested
    funnel relation (pipeline_funnel_v3) so the two faces cannot
    drift. Every frame is eagerly checkpointed: the survivor join
    and the stage counts both consume them.

    Keys: seg (paragraph report), gate (segment-gate survivors),
    reps (lexical cluster representatives), semk (semantic dedup
    keepers), cn / cs (n-gram / semantic contamination flags),
    ep (mixture epoch rows, ALREADY excluding the held-out benchmark
    docs — both screens flag only TRAINING docs, so the bench docs
    themselves must be filtered here or they would sail through the
    anti-joins into the export; the v1 job's documented invariant).
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.dedup import (
        cluster_best_representatives,
        paragraph_dedup,
    )
    from spark_app_twitter_spark.operators.semdedup import (
        decontaminate_semantic,
        semdedup as sem_dedup_cells,
    )
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
        decontaminate_bloom,
        mixture_apply,
    )

    seg = paragraph_dedup(spark, sf_dir).localCheckpoint(eager=True)
    gate = seg.where(
        F.col("n_dropped") * 2 <= F.col("n_segments")
    ).select("doc_id")
    # reps_frame lets v6 swap in the capped O(n) LSH representative
    # relation; default stays the exact audit chain (v3-v5 frozen)
    reps = (
        reps_frame
        if reps_frame is not None
        else cluster_best_representatives(spark, sf_dir).select(
            F.col("rep_doc_id").alias("doc_id")
        )
    ).localCheckpoint(eager=True)
    semk = (
        sem_dedup_cells(spark, sf_dir)
        .where(F.col("keep"))
        .select(F.col("vec_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    cn = (
        decontaminate_bloom(spark, sf_dir)
        .where(F.col("n_hit_grams") > 0)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    cs = (
        decontaminate_semantic(spark, sf_dir)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    ep = (
        mixture_apply(spark, sf_dir)
        .where(
            (F.col("doc_id") % DECON_BENCH_MOD) != DECON_BENCH_REM
        )
        .localCheckpoint(eager=True)
    )
    return {
        "seg": seg, "gate": gate, "reps": reps,
        "semk": semk, "cn": cn, "cs": cs, "ep": ep,
    }


def _v3_survivors(frames: dict) -> DataFrame:
    return (
        frames["ep"]
        .join(frames["gate"], "doc_id", "left_semi")
        .join(frames["reps"], "doc_id", "left_semi")
        .join(frames["semk"], "doc_id", "left_semi")
        .join(frames["cn"], "doc_id", "left_anti")
        .join(frames["cs"], "doc_id", "left_anti")
    )


def prepare_training_corpus_v3(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> dict:
    """The round-11 capstone: v2's lexical funnel PLUS the embedding
    layer — what a modern multimodal-era corpus build actually runs,
    every stage one of the engine's oracle-verified operators:

      1. segment-level paragraph dedup gate (as v2);
      2. lexical near-dup clusters -> keep-best survivor (as v2);
      3. SEMANTIC dedup keep-first survivors (SemDeDup cells over
         the embedding column; a doc must have an embedding to pass
         this stage — the vec_id == doc_id contract);
      4. DUAL decontamination: a doc is disqualified by a true
         benchmark n-gram hit (bloom-prefiltered exact gate) OR by
         an embedding-cosine hit against the held-out benchmark
         (the paraphrase-robust screen) — the two screens whose
         agreement text_decon_screen_agreement audits;
      5. mixture epoch expansion (the held-out benchmark split is
         excluded HERE — both screens flag only training docs, v1's
         documented never-train invariant) + deterministic
         shuffle-shard export (as v2).

    Returns the per-stage funnel report including the per-screen
    contamination split. Scale shape unchanged from v2: every stage
    is a semi/anti join of small key relations against one corpus
    scan; the embedding stages ride the shared two-level cell
    assignment; nothing corpus-sized collects driver-side.
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.sources.sinks import write_training_shards

    f = _v3_stage_frames(spark, sf_dir)
    survivors = _v3_survivors(f)
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))),
    )
    write_training_shards(
        keyed,
        out_path,
        n_shards,
        "shuffle_key",
        sort_cols=["shuffle_key"],
    )
    written = spark.read.parquet(out_path)
    return {
        "corpus": f["seg"].count(),
        "after_segment_gate": f["gate"].count(),
        "lexical_representatives": f["reps"].count(),
        "semantic_survivors": f["semk"].count(),
        "contaminated_ngram": f["cn"].count(),
        "contaminated_semantic": f["cs"].count(),
        "contaminated_both": f["cn"].join(
            f["cs"], "doc_id", "left_semi"
        ).count(),
        "epoch_rows": f["ep"].count(),
        "written_rows": written.count(),
        "distinct_docs_written": written.select("doc_id")
        .distinct()
        .count(),
    }


def pipeline_funnel_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs): the v3 corpus-build funnel report as a
    relation — the oracle-gated face of prepare_training_corpus_v3
    (same stage relations, counts instead of a shard export), so the
    capstone composition itself is driver-attested against a DuckDB
    twin that replays every component oracle.

    Scale shape: each stage count is one aggregation over the same
    key relations the job builds; the stage frames checkpoint once
    and feed both the survivor join and their counts.
    """
    from pyspark.sql import functions as F

    f = _v3_stage_frames(spark, sf_dir)
    seg, gate, reps, semk, cn, cs, ep = (
        f["seg"], f["gate"], f["reps"], f["semk"], f["cn"], f["cs"],
        f["ep"].select("doc_id", "epoch"),
    )
    surv = _v3_survivors(
        {**f, "ep": ep}
    ).localCheckpoint(eager=True)

    def row(stage: str, df: DataFrame, expr=None) -> DataFrame:
        agg = expr if expr is not None else F.count(F.lit(1))
        return df.agg(agg.cast("long").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    parts = [
        row("corpus", seg),
        row("after_segment_gate", gate),
        row("lexical_representatives", reps),
        row("semantic_survivors", semk),
        row("contaminated_ngram", cn),
        row("contaminated_semantic", cs),
        row("contaminated_both", cn.join(cs, "doc_id", "left_semi")),
        row("epoch_rows", ep),
        row("surviving_epoch_rows", surv),
        row(
            "surviving_distinct_docs",
            surv,
            F.count_distinct(F.col("doc_id")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pipeline_funnel_v3_sql() -> str:
    from spark_app_twitter_spark.operators.dedup import (
        CLUSTER_BEST_REPRESENTATIVES_SQL,
        PARAGRAPH_DEDUP_SQL,
    )
    from spark_app_twitter_spark.operators.semdedup import (
        DECONTAMINATE_SEMANTIC_SQL,
        SEMDEDUP_SQL,
    )
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
        DECONTAMINATE_BLOOM_SQL,
        MIXTURE_APPLY_SQL,
    )

    # every component CTE is referenced by >= 2 downstream stages —
    # MATERIALIZED stops DuckDB re-inlining the expensive chains
    # (the connected-components / semdedup replays) per reference
    return f"""
WITH seg AS MATERIALIZED (SELECT * FROM ({PARAGRAPH_DEDUP_SQL})),
gate AS MATERIALIZED (
  SELECT doc_id FROM seg WHERE n_dropped * 2 <= n_segments
),
reps AS MATERIALIZED (
  SELECT rep_doc_id AS doc_id FROM ({CLUSTER_BEST_REPRESENTATIVES_SQL})
),
semk AS MATERIALIZED (
  SELECT vec_id AS doc_id FROM ({SEMDEDUP_SQL}) WHERE keep
),
cn AS MATERIALIZED (
  SELECT doc_id FROM ({DECONTAMINATE_BLOOM_SQL}) WHERE n_hit_grams > 0
),
cs AS MATERIALIZED (
  SELECT doc_id FROM ({DECONTAMINATE_SEMANTIC_SQL})
),
ep AS MATERIALIZED (
  -- the held-out benchmark docs themselves must NEVER train: both
  -- screens flag only TRAINING docs, so filter the bench split here
  SELECT doc_id, epoch FROM ({MIXTURE_APPLY_SQL})
  WHERE doc_id % {DECON_BENCH_MOD} <> {DECON_BENCH_REM}
),
surv AS MATERIALIZED (
  SELECT ep.doc_id, ep.epoch FROM ep
  WHERE ep.doc_id IN (SELECT doc_id FROM gate)
    AND ep.doc_id IN (SELECT doc_id FROM reps)
    AND ep.doc_id IN (SELECT doc_id FROM semk)
    AND ep.doc_id NOT IN (SELECT doc_id FROM cn)
    AND ep.doc_id NOT IN (SELECT doc_id FROM cs)
)
SELECT 'corpus' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM seg
UNION ALL SELECT 'after_segment_gate', CAST(count(*) AS BIGINT) FROM gate
UNION ALL SELECT 'lexical_representatives', CAST(count(*) AS BIGINT)
  FROM reps
UNION ALL SELECT 'semantic_survivors', CAST(count(*) AS BIGINT) FROM semk
UNION ALL SELECT 'contaminated_ngram', CAST(count(*) AS BIGINT) FROM cn
UNION ALL SELECT 'contaminated_semantic', CAST(count(*) AS BIGINT) FROM cs
UNION ALL SELECT 'contaminated_both', CAST(count(*) AS BIGINT)
  FROM (SELECT doc_id FROM cn WHERE doc_id IN (SELECT doc_id FROM cs))
UNION ALL SELECT 'epoch_rows', CAST(count(*) AS BIGINT) FROM ep
UNION ALL SELECT 'surviving_epoch_rows', CAST(count(*) AS BIGINT)
  FROM surv
UNION ALL SELECT 'surviving_distinct_docs',
  CAST(count(DISTINCT doc_id) AS BIGINT) FROM surv
"""


PIPELINE_FUNNEL_V3_SQL = _pipeline_funnel_v3_sql()


# ---------------------------------------------------------------------------
# v4: the late-r12 curation stages join the capstone — per-source
# quality-floor gating (source-fair thresholds, not one global
# cutoff) and topic-quota balancing (head semantic cells capped, so
# no genre dominates the mix). Both are oracle-verified operators in
# their own right; here they compose into the corpus build.
# ---------------------------------------------------------------------------


def _v4_stage_frames(
    spark: SparkSession, sf_dir: str, reps_frame: DataFrame | None = None
) -> dict:
    """v3's stage relations PLUS:

    qgate — docs at or above their OWN source's quality floor (the
    text_quality_floor_by_source calibration applied per doc: bucket
    >= floor_bucket, a |sources|-row broadcast join);
    quota — the topic-balanced keep set (sim_cluster_balanced_sample
    under the vec_id == doc_id contract: each semantic cell
    contributes at most its quota, tails kept whole).
    """
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

    f = _v3_stage_frames(spark, sf_dir, reps_frame=reps_frame)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bucket = F.floor(
        quality_score_expr(tokens("text")) * F.lit(QUALITY_FLOOR_GRID)
    ).cast("int")
    floors = quality_floor_by_source(spark, sf_dir).select(
        "source", "floor_bucket"
    )
    f["qgate"] = (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(floors), "source")
        .where(F.col("bucket") >= F.col("floor_bucket"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    f["quota"] = (
        cluster_balanced_sample(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    return f


def _v4_survivors(frames: dict) -> DataFrame:
    return (
        _v3_survivors(frames)
        .join(frames["qgate"], "doc_id", "left_semi")
        .join(frames["quota"], "doc_id", "left_semi")
    )


def prepare_training_corpus_v4(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> dict:
    """The v3 dual-screen build with the two late-r12 curation stages
    composed in: a doc must also clear its OWN source's quality floor
    (source-fair gating — one global threshold wholesale-deletes
    terse genres) and sit inside its semantic cell's topic quota
    (head topics capped at the sampler's deterministic keep set).
    Scale shape unchanged: two more semi joins of bounded/sub-linear
    key relations against the epoch stream."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.sources.sinks import write_training_shards

    f = _v4_stage_frames(spark, sf_dir)
    survivors = _v4_survivors(f)
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))),
    )
    write_training_shards(
        keyed, out_path, n_shards, "shuffle_key", sort_cols=["shuffle_key"]
    )
    written = spark.read.parquet(out_path)
    return {
        "corpus": f["seg"].count(),
        "after_segment_gate": f["gate"].count(),
        "lexical_representatives": f["reps"].count(),
        "semantic_survivors": f["semk"].count(),
        "quality_floor_survivors": f["qgate"].count(),
        "topic_quota_kept": f["quota"].count(),
        "contaminated_ngram": f["cn"].count(),
        "contaminated_semantic": f["cs"].count(),
        "epoch_rows": f["ep"].count(),
        "written_rows": written.count(),
        "distinct_docs_written": written.select("doc_id")
        .distinct()
        .count(),
    }


def pipeline_funnel_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs): the v4 funnel report — the attested face of
    prepare_training_corpus_v4, same stage relations, counts instead
    of a shard export. The DuckDB twin replays every component
    oracle including the two late-r12 stages."""
    from pyspark.sql import functions as F

    f = _v4_stage_frames(spark, sf_dir)
    ep = f["ep"].select("doc_id", "epoch")
    surv = _v4_survivors({**f, "ep": ep}).localCheckpoint(eager=True)

    def row(stage: str, df: DataFrame, expr=None) -> DataFrame:
        agg = expr if expr is not None else F.count(F.lit(1))
        return df.agg(agg.cast("long").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    parts = [
        row("corpus", f["seg"]),
        row("after_segment_gate", f["gate"]),
        row("lexical_representatives", f["reps"]),
        row("semantic_survivors", f["semk"]),
        row("quality_floor_survivors", f["qgate"]),
        row("topic_quota_kept", f["quota"]),
        row("contaminated_ngram", f["cn"]),
        row("contaminated_semantic", f["cs"]),
        row("epoch_rows", ep),
        row("surviving_epoch_rows", surv),
        row(
            "surviving_distinct_docs",
            surv,
            F.count_distinct(F.col("doc_id")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pipeline_funnel_v4_sql() -> str:
    from spark_app_twitter_spark.operators.clustering import (
        CLUSTER_BALANCED_SAMPLE_SQL,
    )
    from spark_app_twitter_spark.operators.dedup import (
        CLUSTER_BEST_REPRESENTATIVES_SQL,
        PARAGRAPH_DEDUP_SQL,
    )
    from spark_app_twitter_spark.operators.semdedup import (
        DECONTAMINATE_SEMANTIC_SQL,
        SEMDEDUP_SQL,
    )
    from spark_app_twitter_spark.operators.textstats import (
        DECON_BENCH_MOD,
        DECON_BENCH_REM,
        DECONTAMINATE_BLOOM_SQL,
        MIXTURE_APPLY_SQL,
        QUALITY_FLOOR_BY_SOURCE_SQL,
        QUALITY_FLOOR_GRID,
        quality_score_sql,
    )

    return f"""
WITH seg AS MATERIALIZED (SELECT * FROM ({PARAGRAPH_DEDUP_SQL})),
gate AS MATERIALIZED (
  SELECT doc_id FROM seg WHERE n_dropped * 2 <= n_segments
),
reps AS MATERIALIZED (
  SELECT rep_doc_id AS doc_id FROM ({CLUSTER_BEST_REPRESENTATIVES_SQL})
),
semk AS MATERIALIZED (
  SELECT vec_id AS doc_id FROM ({SEMDEDUP_SQL}) WHERE keep
),
qbuck AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(floor({quality_score_sql("string_split(text, ' ')")}
              * {QUALITY_FLOOR_GRID}) AS INT) AS bucket
  FROM documents
),
qfloor AS MATERIALIZED (
  SELECT source, floor_bucket FROM ({QUALITY_FLOOR_BY_SOURCE_SQL})
),
qgate AS MATERIALIZED (
  SELECT doc_id FROM qbuck JOIN qfloor USING (source)
  WHERE bucket >= floor_bucket
),
quota AS MATERIALIZED (
  SELECT vec_id AS doc_id FROM ({CLUSTER_BALANCED_SAMPLE_SQL})
),
cn AS MATERIALIZED (
  SELECT doc_id FROM ({DECONTAMINATE_BLOOM_SQL}) WHERE n_hit_grams > 0
),
cs AS MATERIALIZED (
  SELECT doc_id FROM ({DECONTAMINATE_SEMANTIC_SQL})
),
ep AS MATERIALIZED (
  SELECT doc_id, epoch FROM ({MIXTURE_APPLY_SQL})
  WHERE doc_id % {DECON_BENCH_MOD} <> {DECON_BENCH_REM}
),
surv AS MATERIALIZED (
  SELECT ep.doc_id, ep.epoch FROM ep
  WHERE ep.doc_id IN (SELECT doc_id FROM gate)
    AND ep.doc_id IN (SELECT doc_id FROM reps)
    AND ep.doc_id IN (SELECT doc_id FROM semk)
    AND ep.doc_id IN (SELECT doc_id FROM qgate)
    AND ep.doc_id IN (SELECT doc_id FROM quota)
    AND ep.doc_id NOT IN (SELECT doc_id FROM cn)
    AND ep.doc_id NOT IN (SELECT doc_id FROM cs)
)
SELECT 'corpus' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM seg
UNION ALL SELECT 'after_segment_gate', CAST(count(*) AS BIGINT) FROM gate
UNION ALL SELECT 'lexical_representatives', CAST(count(*) AS BIGINT)
  FROM reps
UNION ALL SELECT 'semantic_survivors', CAST(count(*) AS BIGINT) FROM semk
UNION ALL SELECT 'quality_floor_survivors', CAST(count(*) AS BIGINT)
  FROM qgate
UNION ALL SELECT 'topic_quota_kept', CAST(count(*) AS BIGINT) FROM quota
UNION ALL SELECT 'contaminated_ngram', CAST(count(*) AS BIGINT) FROM cn
UNION ALL SELECT 'contaminated_semantic', CAST(count(*) AS BIGINT) FROM cs
UNION ALL SELECT 'epoch_rows', CAST(count(*) AS BIGINT) FROM ep
UNION ALL SELECT 'surviving_epoch_rows', CAST(count(*) AS BIGINT)
  FROM surv
UNION ALL SELECT 'surviving_distinct_docs',
  CAST(count(DISTINCT doc_id) AS BIGINT) FROM surv
"""


PIPELINE_FUNNEL_V4_SQL = _pipeline_funnel_v4_sql()


def _v5_stage_frames(
    spark: SparkSession, sf_dir: str, reps_frame: DataFrame | None = None
) -> dict:
    """v4's stage relations PLUS rgate — docs passing the r14 Gopher
    n-gram repetition battery (operators/textstats.repetition_rules):
    phrase-spam (one dominant n-gram) and boilerplate (heavy
    duplicated-5-gram mass) are cut BEFORE epoch planning, the gate
    no word-level rule in the v3 stack could express."""
    from spark_app_twitter_spark.operators.textstats import (
        repetition_rules,
    )

    f = _v4_stage_frames(spark, sf_dir, reps_frame=reps_frame)
    f["rgate"] = (
        repetition_rules(spark, sf_dir)
        .where("passes")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    return f


def _v5_survivors(frames: dict) -> DataFrame:
    return _v4_survivors(frames).join(frames["rgate"], "doc_id", "left_semi")


def prepare_training_corpus_v5(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> dict:
    """The v4 build with the r14 repetition gate composed in: a doc
    must ALSO pass every n-gram repetition ceiling. Scale shape
    unchanged — one more semi join of a corpus-keyed boolean
    relation against the epoch stream."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.sources.sinks import write_training_shards

    f = _v5_stage_frames(spark, sf_dir)
    survivors = _v5_survivors(f)
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))),
    )
    write_training_shards(
        keyed, out_path, n_shards, "shuffle_key", sort_cols=["shuffle_key"]
    )
    written = spark.read.parquet(out_path)
    return {
        "corpus": f["seg"].count(),
        "after_segment_gate": f["gate"].count(),
        "lexical_representatives": f["reps"].count(),
        "semantic_survivors": f["semk"].count(),
        "quality_floor_survivors": f["qgate"].count(),
        "topic_quota_kept": f["quota"].count(),
        "repetition_pass": f["rgate"].count(),
        "contaminated_ngram": f["cn"].count(),
        "contaminated_semantic": f["cs"].count(),
        "epoch_rows": f["ep"].count(),
        "written_rows": written.count(),
        "distinct_docs_written": written.select("doc_id")
        .distinct()
        .count(),
    }


def pipeline_funnel_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs): the v5 funnel report — v4 plus the r14
    repetition gate, every component replayed by the DuckDB twin."""
    from pyspark.sql import functions as F

    f = _v5_stage_frames(spark, sf_dir)
    ep = f["ep"].select("doc_id", "epoch")
    surv = _v5_survivors({**f, "ep": ep}).localCheckpoint(eager=True)

    def row(stage: str, df: DataFrame, expr=None) -> DataFrame:
        agg = expr if expr is not None else F.count(F.lit(1))
        return df.agg(agg.cast("long").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    parts = [
        row("corpus", f["seg"]),
        row("after_segment_gate", f["gate"]),
        row("lexical_representatives", f["reps"]),
        row("semantic_survivors", f["semk"]),
        row("quality_floor_survivors", f["qgate"]),
        row("topic_quota_kept", f["quota"]),
        row("repetition_pass", f["rgate"]),
        row("contaminated_ngram", f["cn"]),
        row("contaminated_semantic", f["cs"]),
        row("epoch_rows", ep),
        row("surviving_epoch_rows", surv),
        row(
            "surviving_distinct_docs",
            surv,
            F.count_distinct(F.col("doc_id")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pipeline_funnel_v5_sql() -> str:
    from spark_app_twitter_spark.operators.textstats import (
        REPETITION_RULES_SQL,
    )

    base = _pipeline_funnel_v4_sql()
    rgate_cte = f"""rgate AS MATERIALIZED (
  SELECT doc_id FROM ({REPETITION_RULES_SQL}) WHERE passes
),
cn AS MATERIALIZED ("""
    assert "cn AS MATERIALIZED (" in base
    sql = base.replace("cn AS MATERIALIZED (", rgate_cte, 1)
    sql = sql.replace(
        "    AND ep.doc_id IN (SELECT doc_id FROM quota)",
        "    AND ep.doc_id IN (SELECT doc_id FROM quota)\n"
        "    AND ep.doc_id IN (SELECT doc_id FROM rgate)",
        1,
    )
    sql = sql.replace(
        "UNION ALL SELECT 'contaminated_ngram',",
        "UNION ALL SELECT 'repetition_pass', CAST(count(*) AS BIGINT)"
        " FROM rgate\n"
        "UNION ALL SELECT 'contaminated_ngram',",
        1,
    )
    return sql


PIPELINE_FUNNEL_V5_SQL = _pipeline_funnel_v5_sql()


def _v6_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """v5's stage relations with the LEXICAL REPRESENTATIVE stage
    routed through the capped O(n) LSH cluster relation
    (dedup.lsh_cluster_best) instead of the exact ngram-Jaccard CC
    chain — the 100 TB-ready funnel. Measured motivation
    (tools/decomp_funnel.py at the 100x near-dup fixture): the exact
    reps stage was 1,392 s of the funnel's ~1,450 s; every other
    stage is seconds. The capped chain's star emission is
    output-linear, so v6 removes the funnel's only super-linear
    stage while keeping the election rule (keep-best quality,
    tie-break lowest id) identical."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.dedup import lsh_cluster_best

    reps6 = lsh_cluster_best(spark, sf_dir).select(
        F.col("rep_doc_id").alias("doc_id")
    )
    return _v5_stage_frames(spark, sf_dir, reps_frame=reps6)


def pipeline_funnel_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, n_docs): the v6 funnel report — v5 with the capped
    lexical representative stage (see _v6_stage_frames). Same stage
    names as v5; only the reps relation (and therefore the survivor
    intersection) changes."""
    from pyspark.sql import functions as F

    f = _v6_stage_frames(spark, sf_dir)
    ep = f["ep"].select("doc_id", "epoch")
    surv = _v5_survivors({**f, "ep": ep}).localCheckpoint(eager=True)

    def row(stage: str, df: DataFrame, expr=None) -> DataFrame:
        agg = expr if expr is not None else F.count(F.lit(1))
        return df.agg(agg.cast("long").alias("n_docs")).select(
            F.lit(stage).alias("stage"), "n_docs"
        )

    parts = [
        row("corpus", f["seg"]),
        row("after_segment_gate", f["gate"]),
        row("lexical_representatives", f["reps"]),
        row("semantic_survivors", f["semk"]),
        row("quality_floor_survivors", f["qgate"]),
        row("topic_quota_kept", f["quota"]),
        row("repetition_pass", f["rgate"]),
        row("contaminated_ngram", f["cn"]),
        row("contaminated_semantic", f["cs"]),
        row("epoch_rows", ep),
        row("surviving_epoch_rows", surv),
        row(
            "surviving_distinct_docs",
            surv,
            F.count_distinct(F.col("doc_id")),
        ),
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _pipeline_funnel_v6_sql() -> str:
    """v5's composed twin with the reps subquery swapped for the
    capped LSH keep-best SQL — one substitution, so the two funnels
    cannot drift anywhere else."""
    from spark_app_twitter_spark.operators.dedup import (
        CLUSTER_BEST_REPRESENTATIVES_SQL,
        LSH_CLUSTER_BEST_SQL,
    )

    base = _pipeline_funnel_v5_sql()
    assert base.count(CLUSTER_BEST_REPRESENTATIVES_SQL) == 1
    return base.replace(
        CLUSTER_BEST_REPRESENTATIVES_SQL, LSH_CLUSTER_BEST_SQL, 1
    )


PIPELINE_FUNNEL_V6_SQL = _pipeline_funnel_v6_sql()


def prepare_training_corpus_v6(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_shards: int = 8,
) -> dict:
    """The v5 build with the capped O(n) lexical representative
    stage (_v6_stage_frames) — the 100 TB-ready export job. Same
    report keys as v5; pipeline_funnel_v6 is its attested face (one
    stage-frame definition, two faces — the engine's standing
    funnel/job contract)."""
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.sources.sinks import write_training_shards

    f = _v6_stage_frames(spark, sf_dir)
    survivors = _v5_survivors(f)
    keyed = survivors.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("epoch"))),
    )
    write_training_shards(
        keyed, out_path, n_shards, "shuffle_key", sort_cols=["shuffle_key"]
    )
    written = spark.read.parquet(out_path)
    return {
        "corpus": f["seg"].count(),
        "after_segment_gate": f["gate"].count(),
        "lexical_representatives": f["reps"].count(),
        "semantic_survivors": f["semk"].count(),
        "quality_floor_survivors": f["qgate"].count(),
        "topic_quota_kept": f["quota"].count(),
        "repetition_pass": f["rgate"].count(),
        "contaminated_ngram": f["cn"].count(),
        "contaminated_semantic": f["cs"].count(),
        "epoch_rows": f["ep"].count(),
        "written_rows": written.count(),
        "distinct_docs_written": written.select("doc_id")
        .distinct()
        .count(),
    }


def pipeline_pretrain_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, n_docs, split_docs, n_bins, full_bins, total_words,
    total_pieces, last_fill_pieces, fertility_bp): the end-to-end
    PRETRAINING EXPORT MANIFEST — the v6 funnel's surviving DISTINCT
    docs (v5 gates with the capped O(n) lexical representative
    stage, _v6_stage_frames) tokenized under the trained unigram
    vocabulary and
    exact-fill rollover-packed into PACK_BUDGET-piece training
    sequences, reported per output shard. This is the capstone a
    reference user actually ships: curation (dedup + semantic +
    quality floor + topic quota + repetition + decontamination)
    composed with tokenization and sequence packing in ONE lineage,
    so the manifest row count, fill, and fertility all describe the
    corpus that really trains.

    Scale shape: the funnel's bounded semi-join stack (each gate a
    checkpointed key relation) feeds ONE distinct on doc_id; the
    unigram encode's vocabulary-trick join sizes survivors only
    (Viterbi once per distinct word, vocab-bounded broadcast); then
    the rollover CLOSED FORM — one shard-keyed running window and
    one shard reduce, never materializing the exploded segment
    stream. No stage is corpus^2; the widest exchange is the
    (doc_id, word) count the encode already pays.

    Oracle: the v6 survivor CTE chain composed with the literal
    per-word piece relation, packing survivors only — and the audit
    columns computed the EXPENSIVE way (generate_series segment
    explosion, per-bin re-aggregation), so the driver's hash
    equality proves the closed form and the materialized segment
    stream agree on the filtered corpus (the pack_rollover_fill
    verification trick, now end-to-end).
    """
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.operators.packing import (
        PACK_BUDGET,
        PACK_SHARDS,
        _shard_start,
    )
    from spark_app_twitter_spark.operators.unigram import unigram_encode

    f = _v6_stage_frames(spark, sf_dir)
    surv_docs = (
        _v5_survivors({**f, "ep": f["ep"].select("doc_id", "epoch")})
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sized = (
        unigram_encode(spark, sf_dir)
        .join(surv_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        )
    )
    b = PACK_BUDGET
    start = _shard_start("n_pieces")
    spans = sized.select(
        "doc_id", "shard", "n_words", "n_pieces", start.alias("start")
    ).selectExpr(
        "shard",
        "n_words",
        "n_pieces",
        f"CAST(start div {b} AS BIGINT) AS first_bin",
        f"CAST((start + n_pieces - 1) div {b} AS BIGINT) AS last_bin",
    )
    return (
        spans.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("last_bin") > F.col("first_bin"), 1).otherwise(0)
            )
            .cast("long")
            .alias("split_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_pieces").cast("long").alias("_total"),
        )
        .selectExpr(
            "shard",
            "n_docs",
            "split_docs",
            f"CAST((_total - 1) div {b} + 1 AS BIGINT) AS n_bins",
            f"CAST((_total - 1) div {b} + (CASE WHEN _total % {b} = 0"
            " THEN 1 ELSE 0 END) AS BIGINT) AS full_bins",
            "total_words",
            "CAST(_total AS BIGINT) AS total_pieces",
            f"CAST(_total - ((_total - 1) div {b}) * {b} AS BIGINT)"
            " AS last_fill_pieces",
            "CAST((_total - total_words) * 10000 div total_words"
            " AS BIGINT) AS fertility_bp",
        )
    )


_PRETRAIN_EXPORT_SQL_CACHE: dict = {}


def _pipeline_pretrain_export_sql(sf_dir: str | None = None) -> str:
    """Compose: v6 survivor CTE body + survivor-filtered pack CTEs +
    the expensive segment-stream verification aggregate. Memoized
    per sf_dir — the literal enc(word, np) relation replays
    sequential Viterbi over the corpus vocabulary once per process.
    Only the enc literal is sf-dependent; every other CTE is
    relational over the pre-registered views."""
    from spark_app_twitter_spark.operators.packing import PACK_BUDGET
    from spark_app_twitter_spark.oracles import (
        ORACLE_SF_DIR,
        _pack_unigram_ctes,
    )

    sf_dir = sf_dir or ORACLE_SF_DIR
    if sf_dir in _PRETRAIN_EXPORT_SQL_CACHE:
        return _PRETRAIN_EXPORT_SQL_CACHE[sf_dir]

    full = _pipeline_funnel_v6_sql()
    head, sep, _ = full.partition("SELECT 'corpus'")
    assert sep, "v6 funnel SQL shape changed"
    body = head.rstrip()
    assert body.endswith(")")
    b = PACK_BUDGET
    pack = _pack_unigram_ctes(
        sf_dir,
        doc_where="WHERE doc_id IN (SELECT doc_id FROM survd)",
    )
    _PRETRAIN_EXPORT_SQL_CACHE[sf_dir] = f"""{body},
survd AS MATERIALIZED (SELECT DISTINCT doc_id FROM surv),
{pack},
spans AS (
  SELECT doc_id, shard, n_pieces, start,
         unnest(generate_series(start // {b},
                                (start + n_pieces - 1) // {b})) AS bin
  FROM cum
),
segs AS (
  SELECT doc_id, shard, bin,
         least(start + n_pieces, (bin + 1) * {b})
           - greatest(start, bin * {b}) AS seg_pieces
  FROM spans
),
per_bin AS (
  SELECT shard, bin, CAST(sum(seg_pieces) AS BIGINT) AS fill
  FROM segs GROUP BY shard, bin
),
rollup AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_bins,
         CAST(sum(CASE WHEN fill = {b} THEN 1 ELSE 0 END) AS BIGINT)
           AS full_bins,
         max(bin) AS last_bin
  FROM per_bin GROUP BY shard
),
sd AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS split_docs
  FROM (SELECT shard, doc_id FROM segs GROUP BY shard, doc_id
        HAVING count(*) > 1)
  GROUP BY shard
),
words AS (
  SELECT shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS total_words,
         CAST(sum(n_pieces) AS BIGINT) AS total_pieces
  FROM sized GROUP BY shard
)
SELECT w.shard, w.n_docs,
       COALESCE(sd.split_docs, CAST(0 AS BIGINT)) AS split_docs,
       r.n_bins, r.full_bins, w.total_words, w.total_pieces,
       p.fill AS last_fill_pieces,
       CAST((w.total_pieces - w.total_words) * 10000
            // w.total_words AS BIGINT) AS fertility_bp
FROM words w
JOIN rollup r USING (shard)
JOIN per_bin p ON p.shard = r.shard AND p.bin = r.last_bin
LEFT JOIN sd ON sd.shard = w.shard
"""
    return _PRETRAIN_EXPORT_SQL_CACHE[sf_dir]


def pipeline_export_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, prev_total_pieces, n_new_docs, admitted_words,
    admitted_pieces, split_docs_new, total_pieces_after, new_bins,
    n_bins_after, last_fill_pieces_after): the NIGHTLY APPEND job —
    an arriving crawl batch (doc_id % INC_BATCH_MOD == INC_BATCH_REM,
    the engine's standing incremental convention) admitted against
    the PUBLISHED corpus and appended to its packed export without
    rebuilding it.

    Admission gates, each an existing oracle-paired operator:
      - not a near-duplicate of the index (incremental_dedup — banded
        minhash candidates against the published side only, verified
        Jaccard >= threshold);
      - at/above its OWN source's quality floor (the
        quality_floor_by_source artifact — the post-fold floors the
        streaming quality monitor publishes);
      - passes the Gopher repetition battery (doc-local);
      - no benchmark n-gram hit (bloom decontamination).

    The append continues each shard's piece stream where the
    published export stopped: admitted docs pack in doc_id order
    starting at the published per-shard piece total, so previously
    written sequences are never rewritten — the partially-filled last
    bin completes first, then new exact-fill bins. All "after"
    columns are CLOSED FORMS over (prev_total, admitted sums); the
    oracle recomputes them the EXPENSIVE way from the union segment
    stream (published block then admitted block), so the driver's
    hash equality proves append == rebuild-of-the-union on every
    audit column.

    Scale shape: ONE vocabulary-bounded encode sizes both blocks;
    the gates are semi/anti joins of bounded key relations against
    the BATCH only; the published side contributes one |shards|-row
    aggregate; the window runs over admitted docs only. Nothing
    rescans or repacks the published export.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_app_twitter_spark.functions.text import tokens
    from spark_app_twitter_spark.operators.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_REM,
        incremental_dedup,
    )
    from spark_app_twitter_spark.operators.packing import (
        PACK_BUDGET,
        PACK_SHARDS,
    )
    from spark_app_twitter_spark.operators.textstats import (
        QUALITY_FLOOR_GRID,
        decontaminate_bloom,
        quality_floor_by_source,
        quality_score_expr,
        repetition_rules,
    )
    from spark_app_twitter_spark.operators.unigram import unigram_encode
    from spark_app_twitter_spark.sources.parquet import load_table

    b = PACK_BUDGET
    is_new = (F.col("doc_id") % INC_BATCH_MOD) == F.lit(INC_BATCH_REM)
    sized = unigram_encode(spark, sf_dir).select(
        "doc_id",
        "n_words",
        "n_pieces",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    prev = (
        sized.where(~is_new)
        .groupBy("shard")
        .agg(F.sum("n_pieces").cast("long").alias("prev_total"))
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    bucket = F.floor(
        quality_score_expr(tokens("text")) * F.lit(QUALITY_FLOOR_GRID)
    ).cast("int")
    floors = quality_floor_by_source(spark, sf_dir).select(
        "source", "floor_bucket"
    )
    qok = (
        docs.where(is_new)
        .select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(floors), "source")
        .where(F.col("bucket") >= F.col("floor_bucket"))
        .select("doc_id")
    )
    dup = (
        incremental_dedup(spark, sf_dir)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    rok = repetition_rules(spark, sf_dir).where("passes").select("doc_id")
    cn = (
        decontaminate_bloom(spark, sf_dir)
        .where(F.col("n_hit_grams") > 0)
        .select("doc_id")
    )
    admitted = (
        sized.where(is_new)
        .join(dup, "doc_id", "left_anti")
        .join(qok, "doc_id", "left_semi")
        .join(rok, "doc_id", "left_semi")
        .join(cn, "doc_id", "left_anti")
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rel = F.sum("n_pieces").over(win) - F.col("n_pieces")
    placed = (
        admitted.select(
            "shard", "doc_id", "n_words", "n_pieces", rel.alias("rel")
        )
        .join(F.broadcast(prev), "shard")
        .selectExpr(
            "shard",
            "n_words",
            "n_pieces",
            "prev_total + rel AS start",
        )
        .selectExpr(
            "shard",
            "n_words",
            "n_pieces",
            f"CAST(start div {b} AS BIGINT) AS first_bin",
            f"CAST((start + n_pieces - 1) div {b} AS BIGINT) AS last_bin",
        )
    )
    agg = placed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_docs"),
        F.sum("n_words").cast("long").alias("admitted_words"),
        F.sum("n_pieces").cast("long").alias("admitted_pieces"),
        F.sum(
            F.when(F.col("last_bin") > F.col("first_bin"), 1).otherwise(0)
        )
        .cast("long")
        .alias("split_docs_new"),
    )
    bins = f"CASE WHEN {{t}} = 0 THEN CAST(0 AS BIGINT) ELSE CAST(({{t}} - 1) div {b} + 1 AS BIGINT) END"
    return (
        prev.join(agg, "shard", "full_outer")
        .selectExpr(
            "shard",
            "CAST(coalesce(prev_total, 0) AS BIGINT) AS prev_total_pieces",
            "CAST(coalesce(n_new_docs, 0) AS BIGINT) AS n_new_docs",
            "CAST(coalesce(admitted_words, 0) AS BIGINT) AS admitted_words",
            "CAST(coalesce(admitted_pieces, 0) AS BIGINT)"
            " AS admitted_pieces",
            "CAST(coalesce(split_docs_new, 0) AS BIGINT) AS split_docs_new",
        )
        .selectExpr(
            "shard",
            "prev_total_pieces",
            "n_new_docs",
            "admitted_words",
            "admitted_pieces",
            "split_docs_new",
            "prev_total_pieces + admitted_pieces AS total_pieces_after",
        )
        .selectExpr(
            "shard",
            "prev_total_pieces",
            "n_new_docs",
            "admitted_words",
            "admitted_pieces",
            "split_docs_new",
            "total_pieces_after",
            bins.format(t="total_pieces_after")
            + f" - ({bins.format(t='prev_total_pieces')}) AS new_bins",
            bins.format(t="total_pieces_after") + " AS n_bins_after",
            f"CAST(CASE WHEN total_pieces_after = 0 THEN 0"
            f" ELSE total_pieces_after"
            f" - ((total_pieces_after - 1) div {b}) * {b} END AS BIGINT)"
            " AS last_fill_pieces_after",
        )
    )


_EXPORT_APPEND_SQL_CACHE: dict = {}


def _pipeline_export_append_sql(sf_dir: str | None = None) -> str:
    """Expensive-way twin of the append manifest: the UNION piece
    stream (published block in doc_id order, then the admitted block)
    is materialized per shard via generate_series segment explosion,
    and every 'after' column is recomputed from it — so the driver's
    hash equality proves the closed-form append equals a rebuild of
    the union. Memoized per sf_dir (the enc literal)."""
    from spark_app_twitter_spark.operators.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_REM,
        INCREMENTAL_DEDUP_SQL,
    )
    from spark_app_twitter_spark.operators.packing import PACK_BUDGET
    from spark_app_twitter_spark.operators.textstats import (
        DECONTAMINATE_BLOOM_SQL,
        QUALITY_FLOOR_BY_SOURCE_SQL,
        QUALITY_FLOOR_GRID,
        REPETITION_RULES_SQL,
        quality_score_sql,
    )
    from spark_app_twitter_spark.oracles import (
        ORACLE_SF_DIR,
        _pack_unigram_ctes,
    )

    sf_dir = sf_dir or ORACLE_SF_DIR
    if sf_dir in _EXPORT_APPEND_SQL_CACHE:
        return _EXPORT_APPEND_SQL_CACHE[sf_dir]
    b = PACK_BUDGET
    mod, rem = INC_BATCH_MOD, INC_BATCH_REM
    _EXPORT_APPEND_SQL_CACHE[sf_dir] = f"""
WITH {_pack_unigram_ctes(sf_dir)},
dupnew AS MATERIALIZED (
  SELECT DISTINCT new_id AS doc_id FROM ({INCREMENTAL_DEDUP_SQL})
),
qfloor2 AS MATERIALIZED (
  SELECT source, floor_bucket FROM ({QUALITY_FLOOR_BY_SOURCE_SQL})
),
qok AS MATERIALIZED (
  SELECT d.doc_id FROM (
    SELECT doc_id, source,
           CAST(floor({quality_score_sql("string_split(text, ' ')")}
                * {QUALITY_FLOOR_GRID}) AS INT) AS bucket
    FROM documents WHERE doc_id % {mod} = {rem}) d
  JOIN qfloor2 USING (source)
  WHERE bucket >= floor_bucket
),
rok AS MATERIALIZED (
  SELECT doc_id FROM ({REPETITION_RULES_SQL}) WHERE passes
),
cnhit AS MATERIALIZED (
  SELECT doc_id FROM ({DECONTAMINATE_BLOOM_SQL}) WHERE n_hit_grams > 0
),
adm AS MATERIALIZED (
  SELECT * FROM sized WHERE doc_id % {mod} = {rem}
    AND doc_id NOT IN (SELECT doc_id FROM dupnew)
    AND doc_id IN (SELECT doc_id FROM qok)
    AND doc_id IN (SELECT doc_id FROM rok)
    AND doc_id NOT IN (SELECT doc_id FROM cnhit)
),
pub AS MATERIALIZED (
  SELECT * FROM sized WHERE NOT (doc_id % {mod} = {rem})
),
stream AS (
  SELECT shard, doc_id, n_pieces, 0 AS blk FROM pub
  UNION ALL
  SELECT shard, doc_id, n_pieces, 1 AS blk FROM adm
),
cum2 AS (
  SELECT shard, doc_id, n_pieces, blk,
         CAST(sum(n_pieces) OVER (PARTITION BY shard ORDER BY blk, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - n_pieces AS start
  FROM stream
),
spans2 AS (
  SELECT shard, doc_id, blk, n_pieces, start,
         unnest(generate_series(start // {b},
                                (start + n_pieces - 1) // {b})) AS bin
  FROM cum2
),
segs2 AS (
  SELECT shard, doc_id, blk, bin,
         least(start + n_pieces, (bin + 1) * {b})
           - greatest(start, bin * {b}) AS seg
  FROM spans2
),
per_bin2 AS (
  SELECT shard, bin, CAST(sum(seg) AS BIGINT) AS fill
  FROM segs2 GROUP BY shard, bin
),
ru AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_bins_after,
         max(bin) AS last_bin
  FROM per_bin2 GROUP BY shard
),
pubbins AS (
  SELECT shard, CAST(count(DISTINCT bin) AS BIGINT) AS prev_bins
  FROM segs2 WHERE blk = 0 GROUP BY shard
),
sdnew AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS split_docs_new
  FROM (SELECT shard, doc_id FROM segs2 WHERE blk = 1
        GROUP BY shard, doc_id HAVING count(*) > 1)
  GROUP BY shard
),
prevt AS (
  SELECT shard, CAST(sum(n_pieces) AS BIGINT) AS prev_total
  FROM pub GROUP BY shard
),
admagg AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_new_docs,
         CAST(sum(n_words) AS BIGINT) AS admitted_words,
         CAST(sum(n_pieces) AS BIGINT) AS admitted_pieces
  FROM adm GROUP BY shard
),
shards AS (SELECT DISTINCT shard FROM stream)
SELECT s.shard,
       CAST(COALESCE(p.prev_total, 0) AS BIGINT) AS prev_total_pieces,
       CAST(COALESCE(a.n_new_docs, 0) AS BIGINT) AS n_new_docs,
       CAST(COALESCE(a.admitted_words, 0) AS BIGINT) AS admitted_words,
       CAST(COALESCE(a.admitted_pieces, 0) AS BIGINT) AS admitted_pieces,
       CAST(COALESCE(sd.split_docs_new, 0) AS BIGINT) AS split_docs_new,
       CAST(COALESCE(p.prev_total, 0) + COALESCE(a.admitted_pieces, 0)
            AS BIGINT) AS total_pieces_after,
       CAST(r.n_bins_after - COALESCE(pb.prev_bins, 0) AS BIGINT)
         AS new_bins,
       r.n_bins_after,
       pbin.fill AS last_fill_pieces_after
FROM shards s
JOIN ru r ON r.shard = s.shard
JOIN per_bin2 pbin ON pbin.shard = s.shard AND pbin.bin = r.last_bin
LEFT JOIN prevt p ON p.shard = s.shard
LEFT JOIN admagg a ON a.shard = s.shard
LEFT JOIN pubbins pb ON pb.shard = s.shard
LEFT JOIN sdnew sd ON sd.shard = s.shard
"""
    return _EXPORT_APPEND_SQL_CACHE[sf_dir]
