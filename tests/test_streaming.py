from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from log_analysis_spark.functions.parse import parse_turns
from log_analysis_spark.streaming.stateful import run_stateful_to_memory


def test_stream_dedup_matches_batch_distinct(spark, transcripts, tmp_path):
    from log_analysis_spark.streaming.stream_pipeline import run_stream_dedup_to_memory

    src = str(tmp_path / "dedup_src")
    transcripts.write.mode("overwrite").parquet(src)
    got = {
        r["turn_class"]: r["n_unique"]
        for r in run_stream_dedup_to_memory(spark, src, "t_dedup").collect()
    }
    want = {
        r["turn_class"]: r["n"]
        for r in parse_turns(transcripts)
        .select("text", "turn_class")
        .distinct()
        .groupBy("turn_class")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_routed_fanout_counts(spark, transcripts, tmp_path):
    from log_analysis_spark.operators import router
    from log_analysis_spark.streaming.stream_pipeline import run_stream_routed

    src = str(tmp_path / "route_src")
    transcripts.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "routed_stream")
    ckpt = str(tmp_path / "ckpt")
    got = run_stream_routed(spark, src, out, checkpoint=ckpt)
    batch = router.tag_sinks(parse_turns(transcripts), router.default_rules())
    want = {r["sink"]: r["n"] for r in router.sink_counts(batch).collect()}
    assert got == want
    assert got == _routed_read_back(spark, out)
    # resume with same checkpoint: no new input -> no double counts
    got2 = run_stream_routed(spark, src, out, checkpoint=ckpt)
    assert got2 == want


def _routed_read_back(spark, out: str) -> dict:
    """Per-sink counts of a Spark read of every ``batch=*`` dir: the oracle
    for the totals ``run_stream_routed`` sums from the files' footers."""
    from log_analysis_spark.operators import router

    routed = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    return {r["sink"]: r["n"] for r in router.sink_counts(routed).collect()}


def test_stream_routed_replayed_batch_stays_exact(spark, transcripts, tmp_path):
    """A micro-batch whose commit was lost is replayed on restart, and its
    overwrite removes a file planted in its batch dir beforehand, so the
    returned totals stay exact."""
    import glob
    import os
    import shutil

    from log_analysis_spark.operators import router
    from log_analysis_spark.streaming.stream_pipeline import run_stream_routed

    src = str(tmp_path / "replay_src")
    transcripts.repartition(10).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "replay_out")
    batch = router.tag_sinks(parse_turns(transcripts), router.default_rules())
    want = {r["sink"]: r["n"] for r in router.sink_counts(batch).collect()}
    assert run_stream_routed(spark, src, out) == want

    last = max(int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{out}/batch=*"))
    assert last == 1  # 10 files at 8 per trigger
    sink_dir = sorted(glob.glob(f"{out}/batch={last}/sink=*"))[0]
    planted = f"{sink_dir}/part-planted.parquet"
    shutil.copy(glob.glob(f"{sink_dir}/part-*.parquet")[0], planted)
    os.remove(f"{out}/_checkpoint/commits/{last}")
    os.remove(f"{out}/_checkpoint/commits/.{last}.crc")

    got = run_stream_routed(spark, src, out)
    assert not os.path.exists(planted)
    assert got == want
    assert got == _routed_read_back(spark, out)


def test_stream_dedup_within_watermark_bounded_state(spark, tmp_path):
    """Both sides of the dropDuplicatesWithinWatermark trade, driven over
    two explicit micro-batches:

      * a duplicate arriving while its twin's state is live (within the
        watermark delay) is DROPPED — dedup works;
      * a duplicate arriving after the watermark passed its twin's eviction
        point is ADMITTED again — the bounded-state trade, proving state
        really is evicted rather than kept forever."""
    import datetime as dt

    from log_analysis_spark.streaming.stream_pipeline import (
        stream_transcripts,
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "wm_ckpt")

    def write_file(name, items):
        spark.createDataFrame(
            [
                (f"c{i}", 0, "user", text, "-", dt.datetime(2024, 1, 1) + ts)
                for i, (text, ts) in enumerate(items)
            ],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
        ).coalesce(1).write.mode("append").parquet(src)

    h = dt.timedelta(hours=1)
    # batch 1: X and Y early; Z late enough to push the watermark (2h delay)
    # past X's eviction point (10:00 + 2h = 12:00 < 23:00 - 2h = 21:00)
    write_file("b1", [("X", 10 * h), ("Y", 10 * h), ("Z", 23 * h)])

    dd = streaming_dedup_within_watermark(stream_transcripts(spark, src))
    q = (
        dd.select("conv_id", "text", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: X again (state evicted -> re-admitted), Z again within its
        # live window (23:00 + 2h = 25:00 > watermark 21:00 -> dropped)
        write_file("b2", [("X", 22 * h), ("Z", 22 * h + dt.timedelta(minutes=30))])
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql("SELECT text FROM wm_dedup").groupBy("text").count()
    counts = {r["text"]: r["count"] for r in got.collect()}
    assert counts == {"X": 2, "Y": 1, "Z": 1}


def test_stream_routed_refuses_missing_explicit_checkpoint(
    spark, transcripts, tmp_path
):
    """Auto-clearing stale batch dirs is scoped to the derived-checkpoint
    case: an explicit-but-missing checkpoint over an out_dir that already
    holds batch output must refuse, not silently destroy it."""
    import shutil

    import pytest

    from log_analysis_spark.streaming.stream_pipeline import run_stream_routed

    src = str(tmp_path / "refuse_src")
    transcripts.limit(200).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "refuse_out")
    run_stream_routed(spark, src, out)  # derived checkpoint
    shutil.rmtree(f"{out}/_checkpoint")
    with pytest.raises(RuntimeError, match="refusing to start"):
        run_stream_routed(spark, src, out, checkpoint=str(tmp_path / "fresh_ckpt"))
    # the derived default still opts into the cleanup and reruns cleanly
    got = run_stream_routed(spark, src, out)
    assert sum(got.values()) == 200


def test_stateful_conv_stats_match_batch(spark, transcripts, tmp_path):
    src = str(tmp_path / "stateful_src")
    transcripts.write.mode("overwrite").parquet(src)
    out = run_stateful_to_memory(spark, src, query_name="t_conv_state")
    got = {r["conv_id"]: (r["n_turns"], r["n_errors"], r["max_turn_idx"]) for r in out.collect()}
    batch = (
        parse_turns(transcripts)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("turn_class") == "error").cast("long")).alias("e"),
            F.max("turn_idx").alias("m"),
        )
    )
    want = {r["conv_id"]: (r["n"], r["e"], r["m"]) for r in batch.collect()}
    assert got == want

from pyspark.sql import functions as F

from log_analysis_spark.functions.parse import parse_turns
from log_analysis_spark.operators import router
from log_analysis_spark.streaming.stream_pipeline import run_stream_to_memory


def test_streaming_counts_match_batch(spark, transcripts, tmp_path):
    path = str(tmp_path / "stream_src")
    transcripts.write.mode("overwrite").parquet(path)

    out = run_stream_to_memory(spark, path).cache()
    # total across windows == batch total
    assert out.agg(F.sum("n")).first()[0] == transcripts.count()

    # per-sink totals match the batch router exactly
    batch = router.tag_sinks(parse_turns(spark.read.parquet(path)), router.default_rules())
    b = {r["sink"]: r["n"] for r in router.sink_counts(batch).collect()}
    s = {
        r["sink"]: r["n"]
        for r in out.groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }
    assert b == s


def test_stream_neardup_ingest_cross_batch_rejection(spark, tmp_path):
    """Two files arriving as two micro-batches: batch 1 contains a verbatim
    copy of a batch-0 doc, which must be rejected cross-corpus; restarting
    the drained stream is a no-op (checkpoint resume, idempotent state)."""
    from log_analysis_spark.streaming.incremental_stream import (
        run_stream_neardup_ingest,
    )

    src = str(tmp_path / "docs_src")
    state = str(tmp_path / "ingest_state")
    lorem = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts debate reusable launch vehicles in low earth orbit"
    )
    other = (
        "completely different subject matter about cooking pasta with "
        "garlic butter sauce and salted water at a rolling boil tonight"
    )
    spark.createDataFrame(
        [("a", lorem), ("b", other)], "doc_id string, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src)

    t1 = run_stream_neardup_ingest(spark, src, state)
    assert t1 == {"n_accepted": 2, "n_rejected": 0}

    # second file lands: one dup of 'a', one genuinely new doc
    third = (
        "a third document about gardening tomatoes in raised beds with "
        "compost and regular watering through the summer months outside"
    )
    spark.createDataFrame(
        [("x", lorem), ("y", third)], "doc_id string, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    t2 = run_stream_neardup_ingest(spark, src, state)
    assert t2 == {"n_accepted": 3, "n_rejected": 1}
    rej = spark.read.parquet(f"{state}/rejects").collect()
    assert len(rej) == 1
    assert rej[0]["id"] == "x" and rej[0]["matched_id"] == "a"
    assert rej[0]["why"] == "cross_corpus" and rej[0]["est_jaccard"] == 1.0
    accepted = {
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    }
    assert accepted == {"a", "b", "y"}

    # drained stream: a third call processes nothing and changes nothing
    t3 = run_stream_neardup_ingest(spark, src, state)
    assert t3 == t2


def test_stream_embed_ingest_across_microbatches(spark, tmp_path):
    """Vector twin of the text streaming ingest: two drain calls, a
    verbatim duplicate landing in the second file rejects cross-corpus at
    exact cosine 1.0 against the persisted unit store; a drained stream
    re-run changes nothing."""
    from log_analysis_spark.streaming.incremental_stream import (
        run_stream_embed_ingest,
    )

    src = str(tmp_path / "vec_src")
    state = str(tmp_path / "embed_state")
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)

    t1 = run_stream_embed_ingest(spark, src, state)
    assert t1 == {"n_accepted": 2, "n_rejected": 0}

    # second file: one verbatim copy of vector 1, one orthogonal new vector
    spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])], schema
    ).coalesce(1).write.mode("append").parquet(src)

    t2 = run_stream_embed_ingest(spark, src, state)
    assert t2 == {"n_accepted": 3, "n_rejected": 1}
    rej = spark.read.parquet(f"{state}/rejects").collect()
    assert len(rej) == 1
    assert rej[0]["id"] == 10 and rej[0]["matched_id"] == 1
    assert rej[0]["why"] == "cross_corpus" and rej[0]["cosine"] == 1.0
    accepted = {
        r["vec_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    }
    assert accepted == {1, 2, 11}

    # drained stream: a third call processes nothing and changes nothing
    t3 = run_stream_embed_ingest(spark, src, state)
    assert t3 == t2


def test_stream_embed_ingest_refuses_drifted_params(spark, tmp_path):
    """The stream pins its LSH knobs like the batch job: a second drain of
    the same state with a different seed raises before its micro-batch
    writes anything, instead of admitting a verbatim duplicate whose band
    keys can no longer collide with the stored ones."""
    from log_analysis_spark.streaming.incremental_stream import (
        run_stream_embed_ingest,
    )

    src = str(tmp_path / "vec_src")
    state = tmp_path / "embed_state"
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    t1 = run_stream_embed_ingest(spark, src, str(state), seed=42)
    assert t1 == {"n_accepted": 2, "n_rejected": 0}

    def snapshot():
        return {
            str(p.relative_to(state)): p.read_bytes()
            for p in state.rglob("*")
            if p.is_file() and "_checkpoint" not in p.parts
        }

    before = snapshot()
    spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 0.0])], schema
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="seed"):
        run_stream_embed_ingest(spark, src, str(state), seed=7)
    assert snapshot() == before


def test_streaming_quality_gates_match_batch(spark, tmp_path):
    """The scan-fused corpus gates (Gopher rules, Pareto-free PII scrub)
    are stateless projections, so they run UNCHANGED under Structured
    Streaming: readStream over the docs dir -> gopher_rules + scrub_pii
    -> append memory sink equals the batch run row-for-row.  This is the
    streaming story for the whole gate family — any pure-projection
    operator composes into an ingest stream for free."""
    from log_analysis_spark.operators import textstats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(path)

    gated = textstats.scrub_pii(
        textstats.gopher_rules(
            spark.readStream.schema(docs.schema).parquet(path),
            min_stopwords=1,
        )
    ).select("doc_id", "keep_gopher", "n_emails", "text_clean")
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_gates")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = {
        tuple(r) for r in spark.sql("SELECT * FROM t_gates").collect()
    }
    batch_rows = {
        tuple(r)
        for r in textstats.scrub_pii(
            textstats.gopher_rules(docs, min_stopwords=1)
        )
        .select("doc_id", "keep_gopher", "n_emails", "text_clean")
        .collect()
    }
    assert stream_rows == batch_rows and len(stream_rows) == 500


def test_streaming_sliding_counts_match_batch(spark, tmp_path):
    """timeseries.sliding_counts is streaming-safe UNCHANGED: the same
    F.window(length, slide) aggregate over a readStream source (complete
    mode, availableNow) equals the batch result — hopping-window telemetry
    needs no second implementation for the forward path."""
    from log_analysis_spark.operators import timeseries

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # watermarks require TIMESTAMP (with zone); the parquet is NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    src = str(tmp_path / "slide_src")
    ev.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(ev.schema).parquet(src).withWatermark(
        "ts", "1 hour"
    )
    q = (
        timeseries.sliding_counts(sdf, "ts", 3600, 900, group="event_type")
        .writeStream.format("memory")
        .queryName("t_slide")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("t_slide").collect()))
    want = sorted(
        map(
            tuple,
            timeseries.sliding_counts(ev, "ts", 3600, 900, group="event_type").collect(),
        )
    )
    assert got == want and len(got) > 0


def test_streaming_kmv_equals_batch_over_full_history(spark, tmp_path):
    """The maintained streaming KMV sketch equals sketching the whole
    history in one batch pass — distributivity carried across micro-batch
    state versions; state stays ≤ k rows per group however many batches."""
    from log_analysis_spark.operators import sketches
    from log_analysis_spark.streaming.sketch_stream import run_stream_kmv

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "kmv_src")
    # two file drops → the availableNow drain sees them as input files
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_kmv(
        spark, src, str(tmp_path / "st"), "user_id", schema, k=32,
        group="event_type",
    )
    want = sketches.kmv_distinct(ev, "user_id", k=32, group="event_type")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_cms_counters_equal_batch(spark, tmp_path):
    from log_analysis_spark.operators import sketches
    from log_analysis_spark.streaming.sketch_stream import run_stream_cms

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "cms_src")
    ev.filter("event_id < 300").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id >= 300").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_cms(
        spark, src, str(tmp_path / "st"), "user_id", schema, depth=4, width=128
    )
    want = sketches.cms_sketch(ev, "user_id", depth=4, width=128)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() <= 4 * 128  # bounded state, whatever the history


def test_streaming_hll_equals_batch_over_full_history(spark, tmp_path):
    """The maintained streaming HLL registers yield the same estimates as
    sketching the whole history in one pass; state stays ≤ 2^p rows per
    group however many batches."""
    from log_analysis_spark.operators import sketches
    from log_analysis_spark.streaming.sketch_stream import run_stream_hll

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "hll_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_hll(
        spark, src, str(tmp_path / "st"), "user_id", schema, p=6,
        group="event_type",
    )
    want = sketches.hll_distinct(ev, "user_id", p=6, group="event_type")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_burst_hours_equals_batch(spark, tmp_path):
    """Hourly counts folded across TWO micro-batch drops (split mid-hour,
    so some hours' counts must ADD across batches) yield exactly the batch
    operator's alert table."""
    from log_analysis_spark.operators import timeseries
    from log_analysis_spark.streaming.sketch_stream import run_stream_burst_hours

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "burst_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_burst_hours(
        spark, src, str(tmp_path / "st"), "ts", "event_type", schema,
        n_trail=6, z=2,
    )
    want = timeseries.burst_hours(ev, "ts", "event_type", n_trail=6, z=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_cusum_equals_batch(spark, tmp_path):
    """The CUSUM stream shares the burst stream's hourly fold and the
    batch path's cusum_from_counts — two mid-hour-split drops must yield
    exactly the batch drift table (a slow leak crossing micro-batch
    boundaries accumulates as if the history were one batch)."""
    from log_analysis_spark.operators import timeseries
    from log_analysis_spark.streaming.sketch_stream import run_stream_cusum_hours

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "cusum_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_cusum_hours(
        spark, src, str(tmp_path / "st"), "ts", "event_type", schema,
        k_milli=100, h_mult=1,
    )
    want = timeseries.cusum_hours(ev, "ts", "event_type", k_milli=100, h_mult=1)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_stream_join_equals_batch(spark, transcripts, tmp_path):
    """Stream-stream watermarked interval join (tool call -> following
    error, same conv, within 30 min): with the watermark exceeding the
    static dir's event-time span nothing is evicted, so the streaming
    result must equal the batch join row-for-row."""
    from log_analysis_spark.streaming.stream_join import (
        batch_tool_error_join,
        run_stream_tool_error_join,
    )

    src = str(tmp_path / "ssj_src")
    transcripts.write.mode("overwrite").parquet(src)
    got = sorted(
        map(tuple, run_stream_tool_error_join(spark, src, "t_ssj").collect())
    )
    want = sorted(
        map(
            tuple,
            batch_tool_error_join(
                parse_turns(spark.read.parquet(src))
            ).collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_stream_stream_join_evicts_past_watermark_matches(spark, tmp_path):
    """The bounded-state side of the trade: with a TIGHT watermark, a
    same-conv error arriving several micro-batches (and > watermark delay
    of event time) after its tool call is NOT joined — proof the left
    row's join state was evicted rather than kept forever."""
    import datetime as dt

    from log_analysis_spark.streaming.stream_join import stream_tool_error_join

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def turn(conv, idx, text, tool, ts):
        return (conv, idx, "assistant", text, tool, ts)

    rows_b1 = [
        turn("c1", 0, "GET /api/v1/run HTTP/1.1 200 12ms", "bash", t0),
        # in-gap, in-watermark error: must join
        turn("c1", 1, "ERROR! HttpError: tool timeout", "-",
             t0 + dt.timedelta(minutes=5)),
    ]
    # the global watermark is the MIN over both sides' watermark nodes, and
    # each side's node only sees rows surviving its own filter — so the
    # advancing batches must carry BOTH a tool call and an error turn
    rows_b2 = [
        turn("c9", 0, "GET /api/v1/x HTTP/1.1 200 1ms", "bash",
             t0 + dt.timedelta(hours=10)),
        turn("c8", 0, "ERROR! HttpError: unrelated", "-",
             t0 + dt.timedelta(hours=10)),
    ]
    rows_b3 = [
        # a further batch under the advanced watermark: join-state eviction
        # runs at the END of a batch, so this one flushes c1@t0's state
        turn("c9", 1, "GET /api/v1/y HTTP/1.1 200 1ms", "bash",
             t0 + dt.timedelta(hours=10, minutes=1)),
        turn("c8", 1, "ERROR! HttpError: unrelated 2", "-",
             t0 + dt.timedelta(hours=10, minutes=1)),
    ]
    rows_b4 = [
        # same conv, inside the 30-min GAP of the c1 tool call, but its
        # event time is hours behind the watermark -> state evicted, no join
        turn("c1", 2, "ERROR! HttpError: tool timeout late", "-",
             t0 + dt.timedelta(minutes=10)),
    ]
    src = str(tmp_path / "ssj_evict")
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    import os

    os.makedirs(src, exist_ok=True)
    out = stream_tool_error_join(
        spark, src, max_gap="30 minutes", watermark="1 hour"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssj_evict")
        .start()
    )
    try:
        for i, rows in enumerate([rows_b1, rows_b2, rows_b3, rows_b4]):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    got = [
        (r["conv_id"], r["tool_turn_idx"], r["err_turn_idx"])
        for r in spark.sql("SELECT * FROM t_ssj_evict").collect()
    ]
    assert ("c1", 0, 1) in got  # the live match joined
    assert ("c1", 0, 2) not in got  # the >watermark-late one was dropped


def test_streaming_session_windows_match_batch_islands(spark, transcripts, tmp_path):
    """Native session_window streaming aggregation equals the batch islands
    recompute (new session when the gap to the previous turn >= 15 min;
    end = last event + gap) over a static dir."""
    from pyspark.sql import Window

    from log_analysis_spark.streaming.stream_pipeline import (
        run_stream_sessions_to_memory,
    )

    src = str(tmp_path / "sess_src")
    transcripts.write.mode("overwrite").parquet(src)
    got = sorted(
        map(tuple, run_stream_sessions_to_memory(spark, src, "15 minutes").collect())
    )

    p = (parse_turns(spark.read.parquet(src))
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .select("conv_id", "ts"))
    w = Window.partitionBy("conv_id").orderBy("ts")
    brk = (
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            >= 15 * 60,
            1,
        )
        .otherwise(0)
    )
    g = p.withColumn("_b", brk).withColumn(
        "_sid", F.sum("_b").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    want = sorted(
        map(
            tuple,
            g.groupBy("conv_id", "_sid")
            .agg(
                F.min("ts").alias("session_start"),
                (F.max("ts") + F.expr("INTERVAL 15 MINUTES")).alias(
                    "session_end"
                ),
                F.count(F.lit(1)).alias("n_turns"),
            )
            .select("conv_id", "session_start", "session_end", "n_turns")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_streaming_rate_limit_state_spans_batches(spark, tmp_path):
    """A (key, hour) cell split across two micro-batch drops: the quota
    admitted in batch 1 must deplete batch 2's allowance — ONE bigint of
    state per cell does the carrying."""
    import datetime as dt

    from log_analysis_spark.streaming.stateful import run_rate_limit_to_memory

    def rows(ids_offsets):
        return [
            (i, dt.datetime(2024, 3, 1, 10, 0, s), 1, "k", 0.0, "")
            for i, s in ids_offsets
        ]

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "rl_src")
    # drop A: 3 events (seconds 1..3); drop B: 2 more in the SAME hour
    spark.createDataFrame(rows([(1, 1), (2, 2), (3, 3)]), schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.createDataFrame(rows([(4, 10), (5, 11)]), schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    got = run_rate_limit_to_memory(
        spark, src, limit=3, schema=schema, query_name="rl_span"
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]


def test_streaming_rate_limit_sorts_within_batch(spark, tmp_path):
    """Within one micro-batch the quota is taken in (ts, id) order, not
    file/shuffle order — the later-written but earlier-ts event wins."""
    import datetime as dt

    from log_analysis_spark.streaming.stateful import run_rate_limit_to_memory

    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "rl_sort")
    rows = [
        (10, dt.datetime(2024, 3, 1, 10, 0, 30), 1, "k", 0.0, ""),
        (11, dt.datetime(2024, 3, 1, 10, 0, 5), 1, "k", 0.0, ""),
        (12, dt.datetime(2024, 3, 1, 10, 0, 40), 1, "k", 0.0, ""),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    got = run_rate_limit_to_memory(
        spark, src, limit=1, schema=schema, query_name="rl_sort"
    )
    assert [r["event_id"] for r in got.collect()] == [11]
    import pytest as _pytest

    from log_analysis_spark.streaming.stateful import rate_limited_events

    with _pytest.raises(ValueError):
        rate_limited_events(spark.readStream.schema(schema).parquet(src), 0)


def test_streaming_active_users_equals_batch(spark, tmp_path):
    """Presence folded across TWO micro-batch drops (split so the same
    (user, day) cell appears in BOTH batches — the union-distinct must
    dedupe across the boundary) yields exactly the batch WAU curve."""
    from log_analysis_spark.operators import timeseries
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_active_users,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "wau_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    got = run_stream_active_users(
        spark, src, str(tmp_path / "st"), "ts", "user_id", schema,
        window_days=7,
    )
    want = timeseries.rolling_active_users(ev, "ts", "user_id", 7)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # bounded state: the persisted presence table equals distinct (u, d)
    import glob as _g

    vs = sorted(_g.glob(str(tmp_path / "st" / "presence" / "version=*")))
    final = spark.read.parquet(vs[-1])
    assert final.count() == timeseries.user_day_presence(
        ev, "ts", "user_id"
    ).count()


def test_streaming_quantiles_equals_batch(spark, tmp_path):
    """Histogram cells folded across TWO micro-batch drops (split so the
    same (group, cell) appears in BOTH batches — counts must ADD across
    the boundary) yield exactly the batch hist_quantiles answer, and the
    persisted state is bounded by occupied cells."""
    from log_analysis_spark.operators import sketches
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_quantiles,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "q_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    qs = [0.5, 0.9, 0.99]
    got = run_stream_quantiles(
        spark, src, str(tmp_path / "st"), "value", schema, qs,
        resolution=0.25, group="event_type",
    )
    want = sketches.hist_quantiles(
        ev, "value", qs, resolution=0.25, group="event_type"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # bounded state: persisted cells equal the batch cell table exactly
    import glob as _g

    vs = sorted(_g.glob(str(tmp_path / "st" / "qcells" / "version=*")))
    final = sorted(map(tuple, spark.read.parquet(vs[-1]).collect()))
    batch_cells = sorted(
        map(tuple, sketches.value_cells(ev, "value", 0.25, "event_type").collect())
    )
    assert final == batch_cells


def test_streaming_forecast_backtest_equals_batch(spark, tmp_path):
    """Hourly counts folded across two drops finish through the SAME
    backtest_from_counts as batch — MAEs equal exactly."""
    from log_analysis_spark.operators import timeseries
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_forecast_backtest,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "bt_src")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    got = run_stream_forecast_backtest(
        spark, src, str(tmp_path / "st"), "ts", "event_type", schema,
    )
    want = timeseries.seasonal_naive_backtest(ev, "ts", "event_type")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_psi_drift_equals_batch(spark, tmp_path):
    """Current-side PSI cells folded across TWO drops (split so the same
    bin lands in both) against frozen reference cells equal the batch
    psi_drift exactly."""
    from log_analysis_spark.operators import expectations
    from log_analysis_spark.streaming.sketch_stream import run_stream_psi_drift
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cur = ev.filter(F.col("event_type") == "signup")
    src = str(tmp_path / "psi_src")
    cur.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    cur.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    ref_df = ev.filter(F.col("event_type") == "purchase")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    got = run_stream_psi_drift(
        spark, src, str(tmp_path / "st"), "value", schema,
        expectations.psi_value_cells(ref_df, "value", 0.5, "ca"), width=0.5,
    )
    want = expectations.psi_drift(ref_df, cur, "value", width=0.5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_seq_integrity_equals_batch(spark, tmp_path):
    """Sequence cells folded across TWO micro-batch drops, split so the
    SAME (conv, idx) cell lands in both batches (a duplicate index whose
    two occurrences arrive separately) and a gap's flanking turns arrive
    in different batches — additive counts + the shared finisher must
    yield exactly the batch audit."""
    from log_analysis_spark.operators import expectations as E
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_seq_integrity,
    )

    rows = [
        ("a", 0), ("a", 1), ("a", 3),          # gap at 2
        ("b", 0), ("b", 1), ("b", 1), ("b", 2),  # duplicate idx 1
        ("c", 0), ("c", 1),                     # clean
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    src = str(tmp_path / "seq_src")
    # batch 1: a's low turns + ONE copy of b's dup; batch 2: the rest
    first = {("a", 0), ("a", 1), ("b", 1), ("c", 0)}
    import pyspark.sql.functions as _F

    b1 = df.filter(
        _F.concat_ws(":", "conv_id", "turn_idx").isin(
            [f"{c}:{i}" for c, i in first]
        )
    )
    # drop exactly one of b's duplicate rows into each batch
    b1 = b1.dropDuplicates(["conv_id", "turn_idx"])
    b2 = df.exceptAll(b1)
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    got = run_stream_seq_integrity(
        spark, src, str(tmp_path / "seq_state"),
        "conv_id string, turn_idx int",
    )
    want = E.sequence_integrity(df)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    r = {x["group"]: x for x in got.collect()}
    assert r["a"]["n_missing"] == 1 and r["b"]["n_dup_rows"] == 1
    assert r["c"]["is_contiguous"]


def test_streaming_vocab_drift_equals_batch(spark, tmp_path):
    """Token counts folded across TWO micro-batch drops (the same token
    appearing in both batches must ADD across the boundary) against a
    frozen reference snapshot yield exactly the batch drift table."""
    from log_analysis_spark.operators import textstats as T
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_vocab_drift,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha beta gamma"), (3, "alpha zeta zeta zeta")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "vd_src")
    # 'alpha' and 'zeta' occurrences straddle the two drops
    new.filter("doc_id = 1").coalesce(1).write.mode("append").parquet(src)
    new.filter("doc_id = 3").coalesce(1).write.mode("append").parquet(src)
    got = run_stream_vocab_drift(
        spark, src, str(tmp_path / "vd_state"),
        "doc_id long, text string",
        ref_counts=T.token_counts(old), top_k=10, min_total=1,
    )
    want = T.vocab_drift(old, new, top_k=10, min_total=1)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_sketch_state_dirs_bounded(spark, tmp_path):
    """A long-running sketch stream must not accumulate one version dir
    per micro-batch: after N batches, at most the newest TWO versions
    survive (the only ones the exactly-once replay protocol can read),
    and the final estimate still equals the full-history batch sketch."""
    import glob

    from log_analysis_spark.operators import sketches
    from log_analysis_spark.streaming.sketch_stream import run_stream_kmv

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "src")
    # five file drops -> five micro-batches (maxFilesPerTrigger default
    # drains availableNow in one pass per file group; 5 appends is enough
    # to have produced >2 versions without pruning)
    for m in range(5):
        ev.filter(f"event_id % 5 = {m}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string"
    )
    st = str(tmp_path / "st")
    got = run_stream_kmv(
        spark, src, st, "user_id", schema, k=32, group="event_type",
        max_files_per_trigger=1,  # one micro-batch per file -> 5 batches
    )
    want = sketches.kmv_distinct(ev, "user_id", k=32, group="event_type")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # 5 micro-batches ran; without pruning there would be 5 version dirs
    vdirs = glob.glob(f"{st}/kmv/version=*")
    assert 1 <= len(vdirs) <= 2, vdirs
