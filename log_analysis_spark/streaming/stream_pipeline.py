"""Structured Streaming variant of the parse → route → aggregate pipeline.

The reference is strictly batch (SURVEY.md §2.9) — this is the rebuild's
forward path: the same parse/tag expressions run unchanged over
``readStream``; hourly windowed counts with a watermark give the late-data
policy the reference only had implicitly (J5's outside-time-boundary
exclusion).

Design for scale: stateless parse/tag → ``foreachBatch`` fan-out write
(exactly-once per sink via idempotent overwrite of batch partitions);
watermarked window aggregation keeps state bounded per (sink, hour).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from log_analysis_spark.datagen import TRANSCRIPTS_SCHEMA_DDL
from log_analysis_spark.functions.parse import parse_turns_native
from log_analysis_spark.operators import router
from log_analysis_spark.sources import sinks


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    df = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )
    # watermarks need TIMESTAMP (with zone); session TZ is pinned UTC so the
    # ntz→ltz cast is value-preserving
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_hourly_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per (sink, role) — the streaming
    twin of aggregate.hourly_rollup."""
    parsed = parse_turns_native(stream)
    tagged = router.tag_sinks(parsed, router.default_rules())
    return (
        tagged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "sink", "role")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("hour"), "sink", "role", "n")
    )


def _run_to_end(writer: DataStreamWriter) -> None:
    """Start ``writer``'s query and stop it once every available file is
    processed."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_stream_to_memory(
    spark: SparkSession, path: str, query_name: str = "stream_counts"
) -> DataFrame:
    """Drive the streaming query to completion over a static dir (test/demo
    harness: memory sink + processAllAvailable)."""
    agg = streaming_hourly_counts(stream_transcripts(spark, path))
    _run_to_end(
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_dedup_to_memory(
    spark: SparkSession, path: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """Streaming EXACT dedup: dropDuplicates keyed on md5(text) (bounded
    key size regardless of turn length), appended to a memory sink; the
    returned frame is per-class counts of unique texts — an exact oracle vs
    the batch ``DISTINCT text`` counts.

    State note: unbounded dedup state here (exactness over the static test
    dir); the production variant is ``dropDuplicatesWithinWatermark`` once
    an event-time bound on duplicate arrival is acceptable — same plan
    shape, state evicted by watermark."""
    stream = stream_transcripts(spark, path)
    parsed = parse_turns_native(stream)
    dd = parsed.withColumn("_k", F.md5("text")).dropDuplicates(["_k"])
    _run_to_end(
        dd.select("conv_id", "turn_idx", "turn_class", "_k")
        .writeStream.outputMode("append").format("memory").queryName(query_name)
    )
    return spark.sql(
        f"SELECT turn_class, count(*) AS n_unique FROM {query_name}"
        " GROUP BY turn_class"
    )


def streaming_dedup_within_watermark(
    stream: DataFrame, delay: str = "2 hours"
) -> DataFrame:
    """PRODUCTION streaming dedup: ``dropDuplicatesWithinWatermark`` keyed
    on ``md5(text)`` — state for a key is evicted once the watermark passes
    its event time + ``delay``, so state is BOUNDED by the event-time window
    instead of growing with every distinct text forever (the exact unbounded
    ``dropDuplicates`` in ``run_stream_dedup_to_memory`` stays the
    small-corpus/oracle path).

    The documented trade: a duplicate arriving after the watermark has
    passed its twin's eviction point is admitted again — acceptable exactly
    when the source bounds duplicate arrival skew (e.g. log shippers with a
    bounded retry horizon), which is the production assumption this variant
    encodes.  tests/test_streaming.py drives both sides of the trade (a
    within-watermark duplicate is dropped, a past-watermark one is
    re-admitted)."""
    parsed = parse_turns_native(stream)
    return (
        parsed.withColumn("_k", F.md5("text"))
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["_k"])
    )


def run_stream_routed(
    spark: SparkSession, src_path: str, out_dir: str, checkpoint: str | None = None
) -> dict[str, int]:
    """Streaming fan-out: parse → tag → a ``foreachBatch`` write of each
    micro-batch, partitioned by sink, into ``batch=<id>``; returns the rows
    per sink over every ``batch=*`` dir, summed from the committed files'
    parquet footers (``sinks.footer_rows``: no Spark job).

    Exactly-once story: the checkpoint records the last committed batch id,
    and a replayed batch overwrites its own ``batch=<id>`` dir instead of
    double-appending (the streaming analogue of the manifest's
    replace-partition rule); a restart resumes from unprocessed files only.

    That guarantee, and exact totals, need batch ids and batch dirs in sync,
    so the checkpoint is mandatory (derived from ``out_dir`` when not given)
    and a start WITHOUT a prior checkpoint clears stale ``batch=*`` dirs,
    which a shorter rerun restarting ids at 0 would otherwise double-count.
    The clean is scoped to the DERIVED checkpoint (out_dir and checkpoint
    are then one unit, so batch dirs without it are provably stale).  With
    an EXPLICIT checkpoint that does not exist while out_dir holds batch
    dirs, the function refuses to start instead of silently destroying
    output that may belong to another job or to a checkpoint the caller
    mislaid — delete the dirs (or pass the derived default) to opt in.
    """
    import glob
    import os
    import shutil

    derived_checkpoint = checkpoint is None
    if derived_checkpoint:
        checkpoint = os.path.join(out_dir, "_checkpoint")
    if not os.path.exists(checkpoint):
        stale = glob.glob(os.path.join(out_dir, "batch=*"))
        if stale and not derived_checkpoint:
            raise RuntimeError(
                f"refusing to start: checkpoint {checkpoint!r} does not exist "
                f"but {out_dir!r} already holds {len(stale)} batch=* dirs; "
                "delete them explicitly (or use the derived default "
                "checkpoint) to opt into clearing prior output"
            )
        for s in stale:
            shutil.rmtree(s, ignore_errors=True)

    stream = stream_transcripts(spark, src_path)
    parsed = parse_turns_native(stream)
    tagged = router.tag_sinks(parsed, router.default_rules())

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        router.route_write(batch_df, f"{out_dir}/batch={batch_id}")

    _run_to_end(
        tagged.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    return sinks.footer_rows(out_dir, ("batch", "sink"), "sink")


def streaming_session_counts(stream: DataFrame, gap: str = "15 minutes") -> DataFrame:
    """Native session-window aggregation (``F.session_window``) — the
    streaming twin of the batch gap-sessionize (windows_ops.sessionize):
    per-conv sessions close after ``gap`` of event-time silence, merging as
    late events arrive.  Output (conv_id, session_start, session_end,
    n_turns) with end = last event + gap (Spark's session semantics: a new
    session starts when the gap to the previous event is >= ``gap``).

    State story: in production (append mode + watermark) a session's state
    is emitted and evicted once the watermark passes its end — bounded by
    active conversations, not history.  The exactness harness runs complete
    mode over a static dir, where the result must equal the batch islands
    recompute (the contract oracle)."""
    parsed = parse_turns_native(stream)
    return (
        parsed.groupBy("conv_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_turns",
        )
    )


def run_stream_sessions_to_memory(
    spark: SparkSession,
    path: str,
    gap: str = "15 minutes",
    query_name: str = "stream_sessions",
) -> DataFrame:
    agg = streaming_session_counts(stream_transcripts(spark, path), gap)
    _run_to_end(
        agg.writeStream.outputMode("complete").format("memory").queryName(query_name)
    )
    return spark.sql(f"SELECT * FROM {query_name}")
