"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2 + training-data ops);
``oracle_sql()`` gives the DuckDB-equivalent SQL per query (driver compares
row-count + schema + order-insensitive value hash at sf0.01).

Queries without an oracle entry (approximate / hash-seeded / Arrow-UDF ops)
get the driver's weaker rows-only check and are unit-tested in tests/.

Each query is declared once: ``q_<name>`` is its engine function and
``_oracle_table()`` holds its oracle under ``<name>``.  ``CONTRACT`` lists
the 50 names ``queries()`` exposes; every other ``q_*`` function is a
retired query (``retired_queries()`` / ``retired_oracle_sql()``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_spark import oracles
from log_analysis_spark.datagen import (
    ROLE_TAXONOMY_SQL,
    TOOL_REGISTRY_SQL,
    role_taxonomy,
    tool_registry,
    transcripts_from_events,
)
from log_analysis_spark.functions.parse import parse_turns
from log_analysis_spark.operators import aggregate as agg
from log_analysis_spark.operators import (
    chunking,
    corpus,
    dedup,
    enrich,
    graph,
    joins,
    multimodal,
    retrieval,
    router,
    semdedup,
    similarity,
    sketches,
    span_dedup,
    templates,
    textstats,
    timeseries,
    urls,
    windows_ops,
)

ALL_ACTIONS = ["CurlHandlePool::get", "DmrppArray::read", "TheBESKeys::TheKeys"]

# one source of truth for the global n-gram Jaccard threshold: the Spark
# queries and their oracle SQL must agree or the contract fails confusingly
NGRAM_JACCARD_T = 0.2


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_turns(transcripts_from_events(spark, sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# transcripts pipeline queries
# ---------------------------------------------------------------------------


def q_transcripts(spark, sf_dir):
    """Datagen parity: the derived transcripts table itself."""
    return transcripts_from_events(spark, sf_dir)


def q_parse_fields(spark, sf_dir):
    """S5/§2.8 — full grok parse output, every extracted field."""
    return _parsed(spark, sf_dir).drop("text")


def q_logs_overview(spark, sf_dir):
    """Flagship (logs_overview.sh:13-20): counts per (turn_class, http_code)."""
    return (
        _parsed(spark, sf_dir)
        .groupBy("turn_class", "http_code")
        .agg(F.count("*").alias("n"))
    )


def q_class_counts(spark, sf_dir):
    """A1 (log_processing.py:57-103): count per turn class."""
    return _parsed(spark, sf_dir).groupBy("turn_class").agg(F.count("*").alias("n"))


def q_route_counts(spark, sf_dir):
    """R1-R4 — per-sink counts from the rule router (single tag pass)."""
    tagged = router.tag_sinks(_parsed(spark, sf_dir), router.default_rules())
    return router.sink_counts(tagged)


def q_enrich_roles(spark, sf_dir):
    """J1 — broadcast left join vs role_taxonomy with miss sentinel.
    Retired from the 50-entry contract: ``enrich_dims`` chains this exact
    enrich (strict refinement), keeping J1 driver-green in one slot."""
    out = enrich.enrich_roles(_parsed(spark, sf_dir), role_taxonomy(spark))
    return out.select("conv_id", "turn_idx", "role", "role_class", "is_human", "role_status")


def q_enrich_tools(spark, sf_dir):
    """J2 — broadcast join vs tool_registry; colliding `role` column proves
    right-overrides merge (join_json_arrays.py:45).  Retired from the
    50-entry contract: ``enrich_dims`` chains this exact enrich."""
    out = enrich.enrich_tools(_parsed(spark, sf_dir), tool_registry(spark))
    return out.select("conv_id", "turn_idx", "tool", "tool_kind", "tool_owner", "role", "tool_status")


def q_enrich_dims(spark, sf_dir):
    """J1 + J2 + F8 in the shape the e2e pipeline actually runs them: the
    role enrich (miss sentinel on p.role) chained into the tool enrich
    (right-overrides the colliding ``role`` column, sentinel on p.tool) —
    two BroadcastHashJoins, the fact side never shuffles (EXPLAIN.md §3
    audits this exact composition).  Absorbs the retired ``enrich_roles``
    and ``enrich_tools`` slots: every output column of both survives."""
    out = enrich.enrich_tools(
        enrich.enrich_roles(_parsed(spark, sf_dir), role_taxonomy(spark)),
        tool_registry(spark),
    )
    return out.select(
        "conv_id", "turn_idx", "role", "role_class", "is_human", "role_status",
        "tool", "tool_kind", "tool_owner", "tool_status",
    )


def q_hourly_rollup(spark, sf_dir):
    """North-star aggregate: counts by role/tool/hour (window bucketing)."""
    return agg.hourly_rollup(_parsed(spark, sf_dir))


def q_conv_counts_salted(spark, sf_dir):
    """Salted two-phase groupBy — must equal the plain count exactly."""
    return agg.salted_group_count(_parsed(spark, sf_dir), "conv_id")


def q_distinct_codes(spark, sf_dir):
    """A3 — sorted distinct values (`jq ... | sort -u`)."""
    return agg.distinct_sorted(_parsed(spark, sf_dir), "http_code")


def q_count_distinct(spark, sf_dir):
    """A4 — count distinct conv_ids + total turns.  Retired from the
    50-entry contract: ``conditional_agg`` now carries the same
    countDistinct + total alongside its conditional sums (strict
    refinement), keeping A4 driver-green in one slot."""
    return _parsed(spark, sf_dir).agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.count("*").alias("n_turns"),
    )


def q_timing_stats(spark, sf_dir):
    """A5 — grouped count/median/max (HyraxLogAnalysis.jl:310-313)."""
    return agg.grouped_stats(_parsed(spark, sf_dir), "action", "duration_ms")


def q_minmax_ts(spark, sf_dir):
    """A6 — extrema: the log time range.  Retired from the 50-entry
    contract: ``conditional_agg`` now carries min_ts/max_ts alongside its
    conditional sums (strict refinement), keeping A6 driver-green."""
    return agg.extrema(_parsed(spark, sf_dir), "ts")


def q_action_set_convs(spark, sf_dir):
    """A7/U4 — convs whose distinct action set is exactly ALL_ACTIONS."""
    return agg.groups_with_exact_pair(_parsed(spark, sf_dir), "conv_id", "action", ALL_ACTIONS)


def q_duration_histogram(spark, sf_dir):
    """A8 — fixed-width histogram of duration_ms per action."""
    return agg.histogram(_parsed(spark, sf_dir), "duration_ms", 500.0, group="action")


def q_outliers(spark, sf_dir):
    """F2/U3 — the NOT-IN remainder class (README.md:76-78)."""
    p = _parsed(spark, sf_dir)
    return p.filter(~F.col("turn_class").isin("request", "info", "error", "timing")).select(
        "conv_id", "turn_idx", "text"
    )


def q_substring_filter(spark, sf_dir):
    """F3 — substring containment (README.md:102-112 `contains`)."""
    p = _parsed(spark, sf_dir)
    return p.filter(F.col("text").contains("BESUtil.cc:29")).select(
        "conv_id", "turn_idx", "code_ref"
    )


def q_regex_filter(spark, sf_dir):
    """F4 — regex filter (jq `test`): 4xx errors by code."""
    p = _parsed(spark, sf_dir)
    return (
        p.filter(F.col("text").rlike("HTTP code of 4[0-9][0-9]"))
        .groupBy("http_code")
        .agg(F.count("*").alias("n"))
    )


def q_text_filters(spark, sf_dir):
    """F3 + F4 in one frame — both text-filter operators, each branch
    tagged, unioned by name.  Strict superset of the retired
    ``substring_filter`` (row-level substring containment) and
    ``regex_filter`` (row-level regex match; the retired query's
    per-code counts are a grouping of this branch)."""
    p = _parsed(spark, sf_dir)
    sub = p.filter(F.col("text").contains("BESUtil.cc:29")).select(
        F.lit("substr").alias("src"),
        "conv_id",
        "turn_idx",
        F.col("code_ref").alias("val"),
    )
    rex = p.filter(F.col("text").rlike("HTTP code of 4[0-9][0-9]")).select(
        F.lit("regex").alias("src"),
        "conv_id",
        "turn_idx",
        F.col("http_code").cast("string").alias("val"),
    )
    return sub.unionByName(rex)


def q_unmatched_roles_anti(spark, sf_dir):
    """Anti-join — roles absent from the taxonomy (unmatched records)."""
    p = _parsed(spark, sf_dir)
    return joins.unmatched_anti(p, role_taxonomy(spark), "role").select(
        "conv_id", "turn_idx", "role"
    )


def q_req_resp_merge(spark, sf_dir):
    """J1/J2 — left-outer right-overrides merge of request/response logs."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p)
    resp = joins.derive_response_log(p)
    return joins.merge_right_overrides(req, resp, "request_id").select(
        "request_id", "url_path", "req_code", "http_response_code", "attempt"
    )


def q_full_outer_merge(spark, sf_dir):
    """J7 — full-outer group-union merge (merge_request_response.sh:17)."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p).select("request_id", "url_path", "req_code")
    resp = joins.derive_response_log(p).select("request_id", "http_response_code")
    return joins.full_outer_merge(req, resp, "request_id")


def q_lookup_sentinel(spark, sf_dir):
    """J3 — first-match lookup with the reference's miss sentinel."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p).select("request_id", "req_code")
    resp = joins.derive_response_log(p).select("request_id", "http_response_code", "resp_ts")
    out = joins.lookup_with_sentinel(req, resp, "request_id", "resp_ts")
    return out.select("request_id", "req_code", "http_response_code", "error")


def q_request_errors_flat(spark, sf_dir):
    """J4/J6 flattened — request × same-conv error turns (the nested
    `bes: [...]` array, emitted flat for engine-portable comparison).

    Scale note: this is requests×errors WITHIN a conversation by definition
    (the reference's semantics), i.e. quadratic in a conv's turn count.  Row
    explosion is bounded by conv length; a hot conv is an AQE skew-join
    split, and a production guard would cap errors-per-conv with a windowed
    limit before the join — the cap is omitted here because it would change
    the reference-mirroring oracle semantics."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p).select("request_id", "conv_id", "req_turn_idx")
    errs = p.filter(F.col("turn_class") == "error").select(
        "conv_id", F.col("turn_idx").alias("err_turn_idx"), F.col("http_code").alias("err_code")
    )
    return req.join(errs, on="conv_id", how="inner").select(
        "request_id", "err_turn_idx", "err_code"
    )


def q_interval_join(spark, sf_dir):
    """J5 — composite-equi + time-interval join (bucketed execution)."""
    p = _parsed(spark, sf_dir)
    anchors = p.filter(F.col("turn_class") == "request").select(
        "conv_id",
        F.col("turn_idx").alias("anchor_idx"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    others = p.filter(F.col("turn_class") != "request").select(
        "conv_id", F.col("turn_idx").alias("other_idx"), "ts"
    )
    out = joins.interval_join(
        anchors, others, ["conv_id"], "start_ts", "end_ts", "ts", bucketed=True
    )
    return out.select("conv_id", "anchor_idx", "other_idx")


def q_adjacent_pairing(spark, sf_dir):
    """W3 — timing turn pairs with the next turn's error code else 200."""
    return windows_ops.pair_timing_with_next_error(_parsed(spark, sf_dir))


def q_turn_ordering(spark, sf_dir):
    """W4 — stable (conv_id, turn_idx) ordering + lag(turn_class)."""
    p = windows_ops.with_neighbor_class(_parsed(spark, sf_dir))
    p = windows_ops.with_stable_order(p)
    return p.select("rn", "conv_id", "turn_idx", "turn_class", "prev_class")


def q_pair_math(spark, sf_dir):
    """W1/J8 — first/last duration per conv by turn order + span."""
    p = _parsed(spark, sf_dir).filter(F.col("duration_ms").isNotNull())
    return p.groupBy("conv_id").agg(
        F.min_by("duration_ms", "turn_idx").alias("first_val"),
        F.max_by("duration_ms", "turn_idx").alias("last_val"),
        (F.max_by("duration_ms", "turn_idx") - F.min_by("duration_ms", "turn_idx")).alias("span"),
    )


def q_union_by_name(spark, sf_dir):
    """U1 — union with column superset (vcat cols=:union)."""
    p = _parsed(spark, sf_dir)
    req = p.filter(F.col("turn_class") == "request").select(
        "conv_id", "turn_idx", F.lit("request").alias("kind"), "http_code", "url_path"
    )
    err = p.filter(F.col("turn_class") == "error").select(
        "conv_id", "turn_idx", F.lit("error").alias("kind"), "http_code"
    )
    return req.unionByName(err, allowMissingColumns=True)


def q_scalar_funcs(spark, sf_dir):
    """§2.8 — scalar function surface: epoch→ISO, case, substring, concat,
    replace, split+element_at, unit conversion."""
    p = _parsed(spark, sf_dir).filter(F.col("turn_class") == "request")
    return p.select(
        "conv_id",
        "turn_idx",
        F.date_format(F.timestamp_seconds(F.col("req_epoch")), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_ts"),
        F.upper("role").alias("role_uc"),
        F.lower("instance_id").alias("inst_lc"),
        F.substring("url_path", 1, 11).alias("path_prefix"),
        F.concat(F.lit("2. "), F.col("http_method")).alias("tagged_method"),
        F.regexp_replace("url_path", "/hyrax/ngap", "/h/n").alias("path_short"),
        F.element_at(F.split("url_path", "/"), 3).alias("path_seg"),
        (F.col("http_code") / 100).cast("int").alias("code_class"),
    )


def q_error_subclasses(spark, sf_dir):
    """R4 — error-routing partition + completeness total (README.md:113-123
    "Those numbers add up"): disjoint sub-classes with a rollup grand total."""
    p = _parsed(spark, sf_dir).filter(F.col("turn_class") == "error")
    sub = (
        F.when(F.col("http_code") == 404, "not_found")
        .when(F.col("http_code") == 500, "server_error")
        .when(F.col("http_code") == 401, "auth")
        .otherwise("other")
    )
    return p.withColumn("subclass", sub).rollup("subclass").agg(F.count("*").alias("n"))


def q_conditional_agg(spark, sf_dir):
    """A2 + A4 + A6 — the jq re-scan cascade (combined_analysis.sh)
    collapsed to ONE scan of conditional sums, plus the distinct-conversation
    / total counts and the log time range (absorbing the retired
    ``count_distinct`` and ``minmax_ts`` slots)."""
    p = _parsed(spark, sf_dir)
    return p.agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.count("*").alias("n_turns"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum(F.when(F.col("http_code") == 404, 1).otherwise(0)).alias("n_404"),
        F.sum(F.when(F.col("http_code") == 500, 1).otherwise(0)).alias("n_500"),
        F.sum(F.when(F.col("turn_class") == "error", 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("tool") != "-", 1).otherwise(0)).alias("n_tool_calls"),
        F.sum(
            F.when(F.col("url_path").startswith("/hyrax/ngap"), 1).otherwise(0)
        ).alias("n_ngap"),
    )


def q_nested_errors(spark, sf_dir):
    """J4/J6 — one-to-many join nested per request (`bes: [...]`), the sorted
    array emitted as a joined string for engine-portable value hashing."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p).select("request_id", "conv_id")
    errs = p.filter(F.col("turn_class") == "error").select(
        "conv_id", "turn_idx", "http_code"
    )
    joined = req.join(errs, "conv_id", "left")
    item = F.when(
        F.col("http_code").isNotNull(), F.concat_ws(":", "turn_idx", "http_code")
    )
    return joined.groupBy("request_id").agg(
        F.array_join(F.array_sort(F.collect_list(item)), ",").alias("errs"),
        F.count("http_code").alias("n_errs"),
    )


def q_pid_fanout(spark, sf_dir):
    """R2 (log_processing.py:14-41) — per-PID split; the per-PID sink counts
    plus distinct instances per PID."""
    p = _parsed(spark, sf_dir).filter(F.col("turn_class") == "request")
    return p.groupBy("pid").agg(
        F.count("*").alias("n"), F.countDistinct("instance_id").alias("n_instances")
    )


def q_error_follows_tool(spark, sf_dir):
    """Adjacent-pairing analytics: tool-call turns whose NEXT turn errors
    (the reference's timing→error pairing generalized, response_times2.py)."""
    return windows_ops.error_follows_tool_call(_parsed(spark, sf_dir))


def q_cache_op_counts(spark, sf_dir):
    """A2 — conditional counts per cache operation (info-class turns)."""
    p = _parsed(spark, sf_dir)
    return (
        p.filter(F.col("cache_op").isNotNull())
        .groupBy("cache_op")
        .agg(F.count("*").alias("n"), F.countDistinct("url_path").alias("n_paths"))
    )


def q_lifecycle_merge(spark, sf_dir):
    """J6 — the flagship 3-way lifecycle merge: request ⊕ first-response
    lookup (J3) ⊕ nested same-conv errors (J4), flattened strings for
    engine-portable hashing."""
    p = _parsed(spark, sf_dir)
    req = joins.derive_request_log(p)
    resp = joins.derive_response_log(p).select("request_id", "http_response_code", "resp_ts")
    merged = joins.lookup_with_sentinel(req, resp, "request_id", "resp_ts")
    errs = p.filter(F.col("turn_class") == "error").select(
        "conv_id", "turn_idx", "http_code"
    )
    item = F.when(
        F.col("http_code").isNotNull(), F.concat_ws(":", "turn_idx", "http_code")
    )
    nested = (
        merged.join(errs, "conv_id", "left")
        .groupBy("request_id", "url_path", "req_code", "http_response_code", "error")
        .agg(F.array_join(F.array_sort(F.collect_list(item)), ",").alias("bes"))
    )
    return nested


def _stream_src(spark, sf_dir: str) -> str:
    """Deterministic per-sf parquet snapshot of the transcripts table for the
    streaming queries — written once and reused (the earlier mkdtemp-per-call
    scheme leaked a full table copy per contract run).  Concurrent-safe:
    write to a pid-suffixed dir, then atomically rename into place."""
    import hashlib
    import os
    import shutil
    import tempfile

    from log_analysis_spark.datagen import TRANSCRIPTS_SQL

    # key includes the derivation SQL AND a content fingerprint of the
    # source parquet (size+mtime of every part file): neither a changed
    # datagen nor regenerated testdata at the same path may serve a stale
    # snapshot from an earlier run
    src = os.path.join(sf_dir, "events.parquet")
    stats = []
    if os.path.isfile(src):
        st = os.stat(src)
        stats.append(f"events.parquet:{st.st_size}:{st.st_mtime_ns}")
    else:
        for root, _dirs, files in os.walk(src):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                stats.append(f"{fn}:{st.st_size}:{st.st_mtime_ns}")
    sf_tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:8]
    key = hashlib.sha256(
        "\x00".join([sf_dir, TRANSCRIPTS_SQL] + stats).encode()
    ).hexdigest()[:12]
    tmpdir = tempfile.gettempdir()
    dst = os.path.join(tmpdir, f"spark_graft_stream_src_{sf_tag}_{key}")
    if not os.path.exists(os.path.join(dst, "_SUCCESS")):
        import glob

        tmp = f"{dst}.tmp-{os.getpid()}"
        transcripts_from_events(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, dst)
        except OSError:  # lost the race: another process already renamed
            shutil.rmtree(tmp, ignore_errors=True)
        # evict superseded snapshots of the SAME sf_dir (older content keys,
        # plus crashed runs' tmp dirs — including this key's, other pids)
        # AFTER the new dir is in place: deleting first would race a live
        # process still streaming from the old key, and without eviction
        # every testdata regeneration strands a full table copy in tmp
        for old in glob.glob(
            os.path.join(tmpdir, f"spark_graft_stream_src_{sf_tag}_*")
        ):
            if old != dst and old != tmp:
                shutil.rmtree(old, ignore_errors=True)
    return dst


def q_streaming_hourly(spark, sf_dir):
    """§2.9 forward path — Structured Streaming twin of the hourly rollup.
    Strong oracle: watermarked tumbling-window counts over a static dir equal
    the batch date_trunc('hour') counts.  Retired from the 50-entry contract
    (the round-2 review's own trim suggestion: its semantics overlap
    ``hourly_rollup``; §2.9 keeps two in-window exact rows via
    ``streaming_conv_state`` and ``streaming_dedup``) — still verified by
    tests/test_streaming.py and check_oracle --retired."""
    from log_analysis_spark.streaming.stream_pipeline import run_stream_to_memory

    return run_stream_to_memory(
        spark, _stream_src(spark, sf_dir), query_name="q_stream_hourly"
    )


def q_streaming_conv_state(spark, sf_dir):
    """Custom stateful streaming op (applyInPandasWithState): per-conv
    running stats; exact oracle because each stat is monotone per key, so
    max-over-updates == the batch aggregate."""
    from log_analysis_spark.streaming.stateful import run_stateful_to_memory

    return run_stateful_to_memory(
        spark, _stream_src(spark, sf_dir), query_name="q_conv_state"
    )


def q_streaming_dedup(spark, sf_dir):
    """§2.9 + dedup: streaming exact dedup (dropDuplicates on md5(text))
    over the static snapshot — exact oracle vs batch DISTINCT-text counts
    (same text always derives the same turn_class, so distinct text ≡
    distinct (text, class))."""
    from log_analysis_spark.streaming.stream_pipeline import run_stream_dedup_to_memory

    return run_stream_dedup_to_memory(
        spark, _stream_src(spark, sf_dir), query_name="q_stream_dedup"
    )


def q_streaming_ss_join(spark, sf_dir):
    """§2.9 stream-stream watermarked interval join: tool-call turns joined
    to the error turns that follow them in the same conv within 30 min,
    BOTH sides unbounded streams (join state evicted by the two watermarks
    + the time-range bound).  Exact oracle: with the watermark exceeding
    the static snapshot's event-time span nothing is evicted, so the
    streaming result equals the plain SQL interval join; the bounded-state
    side of the trade (a >watermark-late error NOT joining) is unit-tested
    in tests/test_streaming.py."""
    from log_analysis_spark.streaming.stream_join import run_stream_tool_error_join

    return run_stream_tool_error_join(
        spark, _stream_src(spark, sf_dir), query_name="q_stream_ssj"
    )


def q_streaming_burst_hours(spark, sf_dir):
    """§2.9 streaming burst detection: hourly counts folded per
    micro-batch into versioned bounded state (state ~ hours observed,
    never event volume), alerts from the SAME burst_from_counts the batch
    operator runs — so the streaming result over the drained snapshot
    equals the batch oracle exactly; cross-batch fold equality is
    unit-tested with a two-drop history."""
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import run_stream_burst_hours

    # the file-stream source needs a DIRECTORY of drops; the testdata
    # tables are single files — snapshot one drop into the work dir
    work = tempfile.mkdtemp(prefix="burst_stream_")
    import os

    os.makedirs(f"{work}/src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/drop0.parquet")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    out = run_stream_burst_hours(
        spark,
        f"{work}/src",
        f"{work}/state",
        "ts",
        "event_type",
        schema,
        n_trail=24,
        z=3,
    )
    return out.filter(F.col("anomaly").isNotNull())


def q_streaming_cusum_drift(spark, sf_dir):
    """§2.9 streaming CUSUM drift: the same hourly-count fold as the
    burst stream finished by the SAME cusum_from_counts the batch path
    runs — the drained snapshot equals the batch oracle exactly."""
    import os
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import run_stream_cusum_hours

    work = tempfile.mkdtemp(prefix="cusum_stream_")
    os.makedirs(f"{work}/src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/drop0.parquet")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    out = run_stream_cusum_hours(
        spark,
        f"{work}/src",
        f"{work}/state",
        "ts",
        "event_type",
        schema,
        k_milli=300,
        h_mult=2,
    )
    return out.filter(F.col("drift").isNotNull())


def q_streaming_rate_limit(spark, sf_dir):
    """§2.9 stateful streaming rate limiter (applyInPandasWithState):
    admit at most 2 events per (event_type, hour), ONE bigint of state
    per active cell.  The drive splits the history MID-hour into two
    drops (so quota state must carry across micro-batches inside a
    cell); with in-order arrival the admitted set equals the batch
    per-cell rank-by-(ts, id) <= limit, which the oracle recomputes."""
    import os
    import tempfile

    from log_analysis_spark.streaming.stateful import run_rate_limit_to_memory

    work = tempfile.mkdtemp(prefix="rl_stream_")
    os.makedirs(f"{work}/src")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = "2024-01-15 12:30:00"
    # two sequential writes -> two mtime-ordered drops, time-split so
    # arrival order respects event time while cells span both batches
    ev.filter(F.col("ts") < mid).coalesce(1).write.mode("append").parquet(
        f"{work}/src"
    )
    ev.filter(F.col("ts") >= mid).coalesce(1).write.mode("append").parquet(
        f"{work}/src"
    )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    return run_rate_limit_to_memory(
        spark, f"{work}/src", limit=2, schema=schema,
        query_name="rate_limited_contract",
    )


def q_streaming_sessions(spark, sf_dir):
    """§2.9 native session windows (F.session_window): per-conv sessions
    closing after 15 min of event-time silence — the streaming twin of the
    batch gap-sessionize.  Exact oracle: complete mode over the static
    snapshot equals the SQL islands recompute (new session when the gap to
    the previous turn >= 15 min; end = last event + gap)."""
    from log_analysis_spark.streaming.stream_pipeline import (
        run_stream_sessions_to_memory,
    )

    return run_stream_sessions_to_memory(
        spark, _stream_src(spark, sf_dir), query_name="q_stream_sessions"
    )


def q_conv_docs(spark, sf_dir):
    """Transcripts→training-corpus bridge (the A+B graft in one op): one
    document per conversation, boilerplate turns stripped — any exact turn
    text recurring across >=10% of conversations (templated status lines,
    health checks) carries no training signal — surviving turns rendered
    ``role: text`` in stable turn order.  Non-trivial at sf0.01: 44
    boilerplate texts (max spread 21 of 150 convs).  The oracle recomputes
    the threshold, strip, and ordered assembly with global SQL windows,
    blind to the broadcast anti-join structure."""
    return corpus.transcripts_to_docs(transcripts_from_events(spark, sf_dir))


def q_events_sessionize(spark, sf_dir):
    """Sessionization on the raw events table: 30-min-gap sessions/user.
    Retired from the 50-entry contract: ``session_dedup`` runs the same
    ``windows_ops.sessionize`` machinery as its first stage (strict
    composition), keeping sessionization driver-green in one slot."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        windows_ops.sessionize(ev, "user_id", "ts", ["ts", "event_id"], gap_sec=1800)
        .groupBy("user_id")
        .agg(
            (F.max("sess_id") + 1).cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


FUNNEL_STEPS = ["signup", "view", "purchase"]


INTERVAL_DIM = [
    ("2024-01-01 00:00:00", "2024-01-08 00:00:00", "train-1"),
    ("2024-01-08 00:00:00", "2024-01-15 00:00:00", "train-2"),
    ("2024-01-10 00:00:00", "2024-01-12 00:00:00", "maint-a"),  # nested
    ("2024-01-15 00:00:00", "2024-01-22 00:00:00", "train-3"),
    ("2024-01-22 00:00:00", "2024-02-01 00:00:00", "train-4"),
]


def q_events_interval_lookup(spark, sf_dir):
    """Calendar/release-train enrichment WITHOUT a join node: each event
    labeled by the latest-starting interval containing its ts (the nested
    maint-a window wins inside train-2), via a literal sorted struct array
    in one projection — zero shuffles until the final tiny count.  The
    non-equi-join alternative plans as BroadcastNestedLoopJoin; this is
    the O(|dim|)-per-row scan shape a bounded calendar dim deserves."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return (
        joins.broadcast_interval_lookup(ev, INTERVAL_DIM)
        .groupBy("interval_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_events_asof(spark, sf_dir):
    """Backward as-of join on the raw events table: each error event gains
    the most recent prior-or-equal purchase (value, id, ts) of its user —
    the enrichment DuckDB spells ASOF JOIN and Spark has no operator for.
    One shuffle on user_id (timeseries.asof_join union-tag + window carry)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "error")
    right = ev.filter(F.col("event_type") == "purchase")
    return timeseries.asof_join(
        left, right, "user_id", ["value", "event_id"], right_order="event_id"
    ).select("event_id", "user_id", "ts", "asof_ts", "asof_value", "asof_event_id")


def q_events_sliding(spark, sf_dir):
    """Hopping-window counts (1h window / 15min slide) per event_type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.sliding_counts(ev, "ts", 3600, 900, group="event_type")


def q_events_funnel(spark, sf_dir):
    """Ordered-step funnel signup→view→purchase per user (greedy scan in
    (ts, event_id) order, JVM aggregate lambda — zero Python)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.funnel_steps(
        ev, "user_id", "ts", "event_type", FUNNEL_STEPS, "event_id"
    )


def q_events_retention(spark, sf_dir):
    """Weekly cohort retention matrix over the events table."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.cohort_retention(ev, "user_id", "ts")


def q_events_anomalies(spark, sf_dir):
    """Per-type p99 spike filter: events whose value exceeds their
    event_type's histogram-CDF 0.99 quantile — the quantile table
    broadcasts, detection is a pure filter over the scan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.quantile_anomalies(
        ev, "value", "event_type", q=0.99, resolution=QUANTILE_RES
    ).select("event_id", "event_type", "value")


def q_events_profile(spark, sf_dir):
    """Column profiling report over (value, user_id): n / nulls / KMV
    distinct / min / max / histogram-CDF p50 — the deequ-profile analog
    composed from the exact-oracle sketch family."""
    from log_analysis_spark.operators import expectations as E

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return E.profile_columns(ev, ["value", "user_id"])


def q_events_ohlc(spark, sf_dir):
    """Daily OHLC downsampling of value per event_type — first/last via
    lexicographic struct min/max (no window, one algebraic aggregate)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.downsample_ohlc(
        ev, "event_type", "ts", "value", "event_id", 86400
    )


def q_events_skew_join(spark, sf_dir):
    """Skew-aware join (CMS-detected hot keys → broadcast path, cold keys →
    shuffle join, union): threshold 0.0067 splits the 150 users ~half/half
    at sf0.01 so BOTH paths execute.  The oracle is the PLAIN join — the
    differential plan must be output-invisible."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dims = (
        ev.select("user_id")
        .distinct()
        .withColumn("utag", F.concat(F.lit("u"), F.col("user_id").cast("string")))
    )
    return joins.skew_aware_join(
        ev, dims, "user_id", threshold_frac=0.0067
    ).select("event_id", "user_id", "event_type", "utag")


def q_events_funnel_times(spark, sf_dir):
    """Funnel with per-step match timestamps (time-to-convert input):
    steps_completed + t1..t3, NULL beyond the reached step."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.funnel_times(
        ev, "user_id", "ts", "event_type", FUNNEL_STEPS, "event_id"
    )


def q_turn_transitions(spark, sf_dir):
    """Markov transition matrix over per-conversation turn_class sequences
    — the generalization of W3's error-follows-tool pairing to every
    adjacent transition."""
    return windows_ops.transition_counts(
        _parsed(spark, sf_dir), "conv_id", ["turn_idx"], "turn_class"
    )


def q_graph_tool_pagerank(spark, sf_dir):
    """Weighted integer PageRank over the tool→tool transition graph the
    transcripts induce (edges = `transition_counts` over tool-bearing
    turns): which tools sit at the center of agent workflows.  The whole
    5-iteration recurrence is integer arithmetic (parts-per-1e9 ranks,
    DECIMAL(38,0) for the one >63-bit product), so the oracle replays it
    as unrolled CTEs with zero tolerance."""
    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    return graph.pagerank(
        edges.selectExpr("from_state AS src", "to_state AS dst", "n AS w"),
        n_iters=5,
    )


def q_events_expectations(spark, sf_dir):
    """Declarative data-quality gate (deequ-shaped): six expectations over
    the events table in one report — two deliberately failing
    (accepted_values misses 'error'; in_range caps value at 100) so both
    report branches are exercised."""
    from log_analysis_spark.operators import expectations as E

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id")
    rules = [
        E.not_null("value"),
        E.accepted_values("event_type", ["click", "view", "purchase", "signup"]),
        E.in_range("value", 0.0, 100.0),
        E.unique("event_id"),
        E.min_rows(1_000_000_000),
        E.referential("user_id", "signup_users"),
    ]
    return E.check_expectations(ev, rules, refs={"signup_users": signups})


KMV_K = 32


def q_corpus_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (30 merges over the documents
    corpus): per-round shuffles scale with |vocab|, never the corpus.
    Rows-only by design — an argmax-per-round loop that rewrites symbol
    lists is not SQL-expressible; the verification is the pure-Python
    reference-BPE mirror equality in tests/test_bpe.py (classic + real
    corpora), the same evidence class as the hash-seeded twins."""
    from log_analysis_spark.operators import bpe

    merges = bpe.train_bpe(_docs(spark, sf_dir), n_merges=30)
    return bpe.merges_df(spark, merges)


BIGRAM_LAM = 0.7


def q_doc_bigram_surprise(spark, sf_dir):
    """Interpolated-bigram LM surprise per doc — the order-aware deepening
    of doc_unigram_surprise: shuffled/stuffed text of individually common
    tokens scores high here while passing the unigram gate."""
    return textstats.bigram_surprise(_docs(spark, sf_dir), lam=BIGRAM_LAM)


def q_events_bloom_join(spark, sf_dir):
    """Bloom-prefiltered selective join: the dim side (every 17th user)
    folds to a packed-bitmap broadcast and fact rows that miss any bit are
    dropped BEFORE the shuffle.  The oracle is the PLAIN inner join — a
    Bloom has no false negatives, so the identity is the correctness
    gate (false positives are re-verified by the join itself)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dims = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 17 == 0)
        .withColumn("tag", F.concat(F.lit("u"), F.col("user_id").cast("string")))
    )
    return joins.bloom_prefiltered_join(
        ev, dims, "user_id", m_bits=1 << 16, n_hashes=4
    ).select("event_id", "user_id", "event_type", "tag")


ROLLING_N = 20


def q_events_rolling(spark, sf_dir):
    """Trailing-20-event per-user rolling stats of value — moving-aggregate
    telemetry (rate limits, anomaly baselines) with the sum in integer
    micro-units so it is exact cross-engine."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.rolling_stats(
        ev, "user_id", "ts", "value", n=ROLLING_N, order_col="event_id"
    )


KMV_SETOPS_K = 128


def q_events_kmv_setops(spark, sf_dir):
    """KMV set-relationship estimates between two large event-id sets
    (clicks vs high-value events) from their sketches alone — 'how many
    did BOTH' at 100 TB without joining the raw sets.  k=128 < both set
    sizes at sf0.01, so the ESTIMATOR (not exact-small) path is checked."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.filter(F.col("event_type") == "click").select("event_id")
    b = ev.filter(F.col("value") > 30).select("event_id")
    return sketches.kmv_set_estimates(a, b, k=KMV_SETOPS_K)


CMS_DEPTH, CMS_WIDTH = 4, 256
QUANTILE_QS, QUANTILE_RES = [0.5, 0.9, 0.99], 0.25


def q_events_cms_counts(spark, sf_dir):
    """Count-min sketch point queries: estimated per-user event counts from
    a 4×256-counter sketch probed for every distinct user — the mergeable
    bounded-memory count estimate (never undercounts; overcount bounded by
    2n/width w.p. 1-2^-d), replayed bit-exactly by the oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = sketches.cms_sketch(ev, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH)
    probes = ev.select("user_id").distinct()
    return sketches.cms_estimate(
        sk, probes, "user_id", depth=CMS_DEPTH, width=CMS_WIDTH
    )


def q_streaming_quantiles(spark, sf_dir):
    """§2.9 streaming quantiles: per micro-batch the values collapse to
    (group, cell) histogram counts that ADD into versioned bounded state
    (state ~ occupied cells, never value volume); the final read runs the
    SAME quantiles_from_cells finisher as batch, so the drained snapshot
    equals the batch oracle exactly — cell additivity makes the result
    batch-boundary-independent."""
    import os
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import run_stream_quantiles

    work = tempfile.mkdtemp(prefix="quant_stream_")
    os.makedirs(f"{work}/src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/drop0.parquet")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    return run_stream_quantiles(
        spark,
        f"{work}/src",
        f"{work}/state",
        "value",
        schema,
        QUANTILE_QS,
        resolution=QUANTILE_RES,
        group="event_type",
    )


def q_events_quantiles(spark, sf_dir):
    """Histogram-CDF quantiles (p50/p90/p99 of value per event_type) —
    fixed-size-state distributed quantiles with resolution-bounded error
    and an EXACT cross-engine definition (vs opaque t-digest registers)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketches.hist_quantiles(
        ev, "value", QUANTILE_QS, resolution=QUANTILE_RES, group="event_type"
    )


def q_corpus_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample (k=100, weight = n_chars):
    inclusion ∝ length — the per-row-weight draw stratified rates can't
    express.  TakeOrderedAndProject selection; oracle replays the
    md5-u16 uniform, u^(1/w) key, round-6 and the (key desc, id) cut."""
    docs = _docs(spark, sf_dir)
    return corpus.weighted_sample(docs, "n_chars", k=100).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_corpus_snapshot_diff(spark, sf_dir):
    """Corpus version diff between two deterministically simulated
    snapshots of the documents table: old drops doc_id%7==0, new drops
    doc_id%5==0 and rewrites text for doc_id%11==0 — so all four statuses
    (added/removed/changed/unchanged) occur.  The join carries only
    (id, 16-byte fingerprint); text never shuffles."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus.snapshot_diff(old, new, "doc_id", ["text", "lang", "source"])


def q_orders_join_size(spark, sf_dir):
    """Pre-flight join-size + skew estimate for orders ⋈ lineitem on the
    order key — the planner query run BEFORE committing to a shuffle join.
    Order keys are near-uniform, so the heavy set is EMPTY and the whole
    estimate flows through the sampled-tail arm; deterministic md5
    key-domain sampling makes every intermediate (gate, per-key counts,
    product fold, argmax) replayable, so the oracle recomputes the
    estimator bit-for-bit."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("jk")
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("jk")
    )
    return sketches.join_size_estimate(orders, lineitem, "jk")


def q_events_join_size(spark, sf_dir):
    """The same planner over the SKEWED case: events self-joined on
    user_id (Σ n_v² = same-user event pairs, the blast-radius join).  At
    hh_k=128 several users clear the exact heavy-hitter bar, so BOTH
    estimator arms — exact heavy products and the scaled sampled tail —
    execute and are oracle-verified (the oracle finds heavies with a plain
    HAVING, a different algorithm than the Misra-Gries two-pass)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    return sketches.join_size_estimate(ev, ev, "user_id", hh_k=128)


def q_conv_seq_integrity(spark, sf_dir):
    """Per-conversation turn-sequence integrity audit over a
    deterministically CORRUPTED turn stream (drop turn_idx%13==5 — gaps;
    re-append turn_idx%17==3 — duplicate indexes), so gap, dup and
    clean statuses all occur: the ingest-health check (dropped producer
    batches, replays, shifted numbering) per-turn text equality can't
    see.  One group-keyed integer aggregate; the oracle replays the
    corruption and every count."""
    from log_analysis_spark.operators import expectations as E

    turns = transcripts_from_events(spark, sf_dir)
    corrupted = turns.filter(~(F.col("turn_idx") % 13 == 5)).unionByName(
        turns.filter(F.col("turn_idx") % 17 == 3)
    )
    return E.sequence_integrity(corrupted)


def q_turn_class_cube(spark, sf_dir):
    """Dashboard cube: counts at EVERY grouping combination of
    (turn_class, role) in one pass — GROUPING SETS/CUBE with the
    grouping_id bit mask disambiguating rollup NULLs from data NULLs.
    The oracle replays the cube and the mask arithmetic in DuckDB."""
    parsed = _parsed(spark, sf_dir)
    return agg.dimensional_rollup(parsed, ["turn_class", "role"])


def q_role_class_pivot(spark, sf_dir):
    """Long→wide pivot: one row per role, one n_<turn_class> count column
    per EXPLICIT class (schema pinned — inferred pivot columns are a
    moving target no table contract can hold).  The oracle replays it as
    conditional counts, proving the pivot is exactly that one narrow
    aggregate."""
    parsed = _parsed(spark, sf_dir)
    return agg.pivot_matrix(
        parsed, "role", "turn_class",
        ["error", "info", "request", "timing", "unknown"],
    )


def q_streaming_seq_integrity(spark, sf_dir):
    """§2.9 streaming twin of conv_seq_integrity: the SAME corrupted turn
    stream folds per micro-batch into (group, idx, cnt) occurrence cells
    (additive, so streaming == batch EXACTLY at any batch boundary) and
    the audit runs the shared from-cells finisher — verified against the
    batch oracle."""
    import os
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_seq_integrity,
    )

    work = tempfile.mkdtemp(prefix="seq_stream_")
    os.makedirs(f"{work}/src")
    turns = transcripts_from_events(spark, sf_dir)
    corrupted = turns.filter(~(F.col("turn_idx") % 13 == 5)).unionByName(
        turns.filter(F.col("turn_idx") % 17 == 3)
    )
    corrupted.select("conv_id", "turn_idx").write.mode("overwrite").parquet(
        f"{work}/src"
    )
    return run_stream_seq_integrity(
        spark,
        f"{work}/src",
        f"{work}/state",
        "conv_id string, turn_idx int",
    )


def q_doc_lexical_diversity(spark, sf_dir):
    """Per-document type-token ratio in integer micro-units — the
    doc-level lexical-diversity quality signal; pure zero-shuffle
    projection whose tokenization, distinct-type count and integral
    ratio the oracle replays for every document."""
    return textstats.lexical_diversity(_docs(spark, sf_dir))


def q_events_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier annotation of every event's value within
    its event_type — the breakdown-resistant complement of the mean/σ
    z-test family, entirely in integer cell units on the shared 0.01
    grid.  The oracle replays the grid quantization, both median cuts
    (value cells, then integer deviation cells) and the cross-multiplied
    flag row for row across all 10k events."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketches.robust_outliers(
        ev, "value", resolution=0.01, k_milli=3500, group="event_type"
    ).select("event_id", "event_type", "dev_cells", "mad_cells", "is_outlier")


def q_streaming_vocab_drift(spark, sf_dir):
    """§2.9 streaming twin of corpus_vocab_drift: the old snapshot's token
    counts are FROZEN (the reference LM) while the new snapshot streams in
    — per micro-batch its (tok, n) counts fold additively into versioned
    state, and the final read runs the SAME from-counts finisher as
    batch, so the drained result equals the batch oracle exactly."""
    import os
    import tempfile

    from log_analysis_spark.operators import textstats as T
    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_vocab_drift,
    )

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" driftmarker")),
        ).otherwise(F.col("text")),
    )
    work = tempfile.mkdtemp(prefix="vocab_stream_")
    os.makedirs(f"{work}/src")
    new.select("doc_id", "text").write.mode("overwrite").parquet(f"{work}/src")
    return run_stream_vocab_drift(
        spark,
        f"{work}/src",
        f"{work}/state",
        "doc_id long, text string",
        ref_counts=T.token_counts(old),
        top_k=200,
        min_total=5,
    )


def q_corpus_budget_mix(spark, sf_dir):
    """Token-budget waterfilling mixture: 12k tokens at weights
    en 0.2 / de 0.4 / zh 0.4 over the per-lang availability — de and zh
    CANNOT supply their shares (both cap, taking all their tokens) and
    the surplus waterfalls entirely to en; es/fr carry no weight and are
    excluded, so the capped, uncapped and excluded arms all execute.  The
    oracle replays the integer closed-form scan (fill-ratio sort, the two
    prefix sums, the cross-multiplied capped rule, the floored residual
    split) and the per-lang md5-prefix selection end to end."""
    return corpus.budget_mix(
        _docs(spark, sf_dir),
        {"en": 0.2, "de": 0.4, "zh": 0.4},
        12_000,
        mix_col="lang",
    )


def q_corpus_vocab_drift(spark, sf_dir):
    """Token-distribution drift between the same two simulated snapshots
    as corpus_snapshot_diff (plus a planted ' driftmarker' token on the
    rewritten docs): top-200 movers by |add-1-smoothed log-prob delta| in
    integer micro-nats.  The oracle rebuilds both snapshots, the union
    vocabulary, the smoothed LMs, the round-6 micro quantization and the
    deterministic (|drift| desc, token) cut end to end."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" driftmarker")),
        ).otherwise(F.col("text")),
    )
    return textstats.vocab_drift(old, new, top_k=200, min_total=5)


def q_embed_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive training): for every 50th vector
    as anchor, the top-3 most cosine-similar corpus vectors with a
    DIFFERENT label — expression twin whose round-6 arithmetic the oracle
    replays; hard_negatives_matmul is the production path (row-identity
    unit-tested)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.hard_negatives(emb, queries, k=3)


def q_events_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-user estimate per event_type — the mergeable
    approximate-distinct sketch whose md5-integer estimator a DuckDB oracle
    reproduces bit-exactly (unlike HLL registers).  k=32 < |users| at sf0.01
    so the ESTIMATOR path (not the exact-below-k path) is what's checked."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketches.kmv_distinct(ev, "user_id", k=KMV_K, group="event_type")


HLL_P = 6  # m = 64 registers — small enough that the oracle's literal
#            ln-table stays readable; production default is p=12


def q_events_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct estimates per event_type — BOTH estimator
    branches in one query: distinct users (~150/type at sf0.01 → the
    linear-counting small-range branch) and distinct event ids
    (~2000/type → the raw harmonic-mean branch).  Every step is integer
    (bit-length rho, power-of-two DECIMAL sums, micro-unit alpha, literal
    micro-nat ln table), so the oracle replays the registers bit-exactly
    — unlike Spark's built-in approx_count_distinct HLL±."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = sketches.hll_distinct(
        ev, "user_id", p=HLL_P, group="event_type"
    ).withColumnRenamed("est_distinct", "est_users")
    evs = sketches.hll_distinct(
        ev, "event_id", p=HLL_P, group="event_type"
    ).withColumnRenamed("est_distinct", "est_events")
    return users.join(evs, "event_type")


def q_events_burst_hours(spark, sf_dir):
    """Temporal burst/drop alerting: hourly counts per event_type on a
    dense zero-filled hour spine, flagged when the hour deviates from the
    trailing 24h by > 3σ — via the cross-multiplied INTEGER z-test
    (n·c−Σ)² > z²·(n·Σc²−Σ²), so the oracle replays it bit-for-bit.  At
    sf0.01 this flags ~41 of 3600 hours with both sides present."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = timeseries.burst_hours(ev, "ts", "event_type", n_trail=24, z=3)
    return out.filter(F.col("anomaly").isNotNull())


def q_log_templates(spark, sf_dir):
    """Drain-style log template mining over the raw transcript lines:
    deterministic (token count, masked head) grouping + positional
    agreement — the synthetic corpus's 5 line shapes are recovered with
    wildcards exactly where the generator varies tokens."""
    return templates.mine_templates(
        transcripts_from_events(spark, sf_dir), "text"
    )


def q_log_rare_templates(spark, sf_dir):
    """Anomalous-line detection: lines whose discovered template covers
    fewer than 200 lines — at sf0.01 exactly the 104 '### garbled <#>
    ###' corruption lines, the never-seen-this-shape alert feed."""
    return templates.rare_template_lines(
        transcripts_from_events(spark, sf_dir),
        "text",
        min_lines=200,
        keep_cols=["conv_id", "turn_idx", "text"],
    )


def q_logs_path_rollup(spark, sf_dir):
    """URL path-tree rollup: every parsed url_path counted at each
    prefix depth (/hyrax -> /hyrax/ngap -> /hyrax/ngap/cN) — the
    traffic-by-collection drill-down view."""
    return urls.path_prefix_rollup(_parsed(spark, sf_dir), "url_path", max_depth=4)


def q_doc_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval over the documents table: positional
    postings filtered to the phrase's tokens at the scan, anchor
    nomination, ONE coverage aggregate — no window, no join, text never
    shuffles.  Phrase 'the data' matches token-consecutively (BM25's bag
    of words can't make that distinction)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return retrieval.phrase_search(docs, "the data")


def q_embed_outliers(spark, sf_dir):
    """Embedding-space outlier audit: vectors whose best cosine against
    all 8 md5-seeded centroids stays below 0.08 — close to NOTHING in
    the corpus (the curation complement of SemDeDup).  Zero-shuffle
    projection; 38 of 500 vectors at sf0.01."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    return similarity.centroid_outliers(emb, cents, max_cos_micro=80_000)


def q_doc_badwords(spark, sf_dir):
    """C4-style blocklist counter: per-doc token occurrences of the
    (parameterized) word list, tokenizer-exact so substrings never
    false-match; flagged docs only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textstats.with_badwords(docs, ["vector", "garbled"])
    return out.filter(F.col("n_badwords") > 0).select("doc_id", "n_badwords")


def q_routed_rows_fingerprint(spark, sf_dir):
    """Routed-row equality as an O(1)-output check: the errors sink's
    order-independent table digest (sum of per-row 56-bit md5 terms over
    the null-marked length-prefixed field join) — two runs routed the
    same rows iff (n_rows, fingerprint) match, without re-reading either
    side.  The first-match-wins router tags the sink; 'errors' is the
    first rule, so its rows are exactly turn_class = 'error'."""
    from log_analysis_spark.operators import expectations as E

    tagged = router.tag_sinks(_parsed(spark, sf_dir), router.default_rules())
    errors = tagged.filter(F.col("sink") == "errors").select(
        "conv_id", "turn_idx", "text"
    )
    return E.table_fingerprint(errors)


def q_events_winsorized(spark, sf_dir):
    """Winsorized per-type value stats: values clipped to their own
    [p05, p95] histogram-CDF band (no global sort, no per-row window),
    then aggregated — both clip sides must bite and the micro sums make
    the clip values hash-checkable."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clipped = sketches.clip_to_quantiles(
        ev, "value", p_lo=0.05, p_hi=0.95, resolution=0.25,
        group="event_type",
    )
    c = F.col("value_clipped")
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((c > F.col("value")).cast("long")).alias("n_clip_lo"),
        F.sum((c < F.col("value")).cast("long")).alias("n_clip_hi"),
        F.sum(F.expr(
            "CAST(round(CAST(value_clipped AS DOUBLE) * 1000000) AS DECIMAL(38,0))"
        )).cast("long").alias("sum_clipped_micro"),
    )


def q_conv_tool_paths(spark, sf_dir):
    """Workflow-motif mining: counts of every contiguous 3-step tool
    chain within a conversation (sentinel '-' turns excluded before
    pairing) — the k-gram deepening of the transition matrix."""
    return windows_ops.state_path_ngrams(
        _parsed(spark, sf_dir), "conv_id", ["turn_idx"], "tool",
        k=3, exclude=["-"],
    )


def q_events_entropy(spark, sf_dir):
    """Shannon-entropy column profile in exact integer micro-nats: a
    healthy categorical (event_type, ~ln 5) vs a near-identifier
    (user_id, ~ln 150) in one stacked pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from log_analysis_spark.operators import expectations as E

    return E.column_entropy(ev, ["event_type", "user_id"])


def q_timing_correlation(spark, sf_dir):
    """Pearson correlation between gathered-response count and duration
    on the timing turns — all six sums exact DECIMAL(38,0) integers over
    micro-quantized values, only the final ratio floats (round-6)."""
    from log_analysis_spark.operators import expectations as E

    timing = _parsed(spark, sf_dir).filter(F.col("turn_class") == "timing")
    return E.column_correlation(timing, "n_responses", "duration_ms")


def q_doc_compress_ratio(spark, sf_dir):
    """DEFLATE-ratio quality signal (rows-only by design: the byte count
    is a zlib artifact, not portable algebra — DuckDB has no SQL DEFLATE;
    the pure-Python mirror test pins the values instead).  Zero-exchange
    mapInPandas scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.compression_ratio(docs)


def q_events_cusum_drift(spark, sf_dir):
    """Slow-drift alerting: per-event-type hourly counts on the dense
    spine, two-sided integer CUSUM (slack 0.3 mean, alert at 2 means of
    cumulative excess) — the leak/regression detector a per-hour z-test
    can't be (a +10% sustained shift never clears 3σ but accumulates
    linearly here).  At sf0.01 this flags 111 of 3600 hours with BOTH
    drift directions present."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = timeseries.cusum_hours(ev, "ts", "event_type", k_milli=300, h_mult=2)
    return out.filter(F.col("drift").isNotNull())


def q_events_incidents(spark, sf_dir):
    """Alert→incident coalescing: consecutive anomalous hours merge into
    one incident span per key (islands trick over FLAGGED hours only) —
    one page per outage, not one per hour."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flagged = timeseries.burst_hours(
        ev, "ts", "event_type", n_trail=24, z=3
    ).filter(F.col("anomaly").isNotNull())
    return timeseries.incidents(flagged, "event_type")


def _sessions(spark, sf_dir, gap_sec: int = 86400) -> DataFrame:
    """24h-gap sessions with per-session text assembled from the ordered
    TOKEN-ENRICHED event sequence — the input of the sessionize→dedup
    composition.  ``sess_key = user_id * 1e6 + sess_id`` (collision-free:
    per-user session counts are bounded by per-user event counts ≪ 1e6 at
    every sf).

    The token is ``event_type_<k mod 16>`` (k from the props payload, via
    a portable regexp both engines run identically), NOT the bare event
    type: a 5-symbol vocabulary gives ≤25 distinct bigram shingles, under
    which set-Jaccard is semantically degenerate — at sf1 (~94k sessions)
    nearly EVERY session pair is genuinely ≥0.9 similar and the true pair
    graph itself is quadratic (surfaced by the round-5 sf1 pass: the
    contract run sat 20+ minutes inside this one query).  80 tokens /
    ~6.4k bigrams keeps shingle entropy high enough that similarity is
    discriminative and AllPairs posting lists stay thin at any corpus
    size — the enrichment the original scale note prescribed."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sess = windows_ops.sessionize(
        ev, "user_id", "ts", ["ts", "event_id"], gap_sec=gap_sec
    )
    tok = F.concat(
        F.col("event_type"),
        F.lit("_"),
        (
            F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
            .try_cast("long") % 16
        ).cast("string"),
    )
    return (
        sess.withColumn(
            "sess_key", F.col("user_id") * F.lit(1_000_000) + F.col("sess_id")
        )
        .withColumn("_tok", tok)
        .groupBy("sess_key")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "_tok"))
                    ),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("text"),
            F.count("*").alias("n_events"),
        )
    )


def q_session_dedup(spark, sf_dir):
    """Composition query (the training-pipeline shape): sessionize →
    per-session text assembly → near-dup dedup ACROSS sessions — the same
    prefix-filter Jaccard + connected-components machinery as
    ``doc_dedup_kept``, fed by ``events_sessionize``'s window.  Output: the
    kept (representative) sessions.  Exact oracle: recursive-CTE
    reachability over the brute-force global session-pair graph.

    Round-5 scale fix (found by the sf1 pass): the original bare
    event-type tokens (5 symbols, <=25 distinct bigrams) made set-Jaccard
    degenerate — at sf1 nearly every session pair is genuinely >=0.9
    similar and the TRUE pair graph is quadratic, so the query (and its
    brute-force oracle) exploded at ~94k sessions.  ``_sessions`` now
    token-enriches (``event_type_<k mod 16>``, ~6.4k distinct bigrams), so
    similarity is discriminative at every sf; threshold=0.5 keeps a
    non-empty pair graph at sf0.01 (4 edges) so CC + representative
    selection stay exercised end to end."""
    sessions = _sessions(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        sessions, text_col="text", id_col="sess_key", k=2, threshold=0.5
    )
    groups = dedup.neardup_groups(
        sessions.select(F.col("sess_key").alias("id")), pairs
    )
    kept = dedup.drop_near_duplicates(sessions, groups, id_col="sess_key")
    return kept.select("sess_key", "n_events")


# ---------------------------------------------------------------------------
# training-data / documents / embeddings queries
# ---------------------------------------------------------------------------


def q_doc_exact_dedup(spark, sf_dir):
    """Exact dedup: representative id + copy count per distinct text."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_doc_token_count(spark, sf_dir):
    return textstats.with_token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")


def q_doc_quality(spark, sf_dir):
    out = textstats.with_quality(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_doc_langid(spark, sf_dir):
    """Language-ID heuristic prediction counts per (lang, lang_pred)."""
    out = textstats.with_lang_pred(_docs(spark, sf_dir))
    return out.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition filter: per-doc duplicate-line fraction,
    duplicate-line character fraction, top-2-gram character fraction, and
    the keep/reject flag (operators/corpus.py — exact definitions in the
    docstring there; the oracle mirrors them verbatim)."""
    out = corpus.repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        "top_2gram",
        F.round("top_2gram_char_frac", 6).alias("top_2gram_char_frac"),
        "keep_repetition",
    )


def q_corpus_pack(spark, sf_dir):
    """Token-budget shard packing: md5-keyed deterministic order, two-phase
    exclusive running token sum, shard = floor(cumsum / budget).  The
    oracle is a single global window cumsum — a hash match proves the
    two-phase (per-bucket + 256-row offset) decomposition exact."""
    return corpus.pack_shards(_docs(spark, sf_dir), budget=2048)


def q_corpus_sample(spark, sf_dir):
    """Stratified deterministic sampling: downsample en to 50% and zh to
    25% via the leading 16 bits of md5(doc_id) as a uniform draw — a pure
    filter, reproducible cross-engine."""
    return corpus.stratified_sample(
        _docs(spark, sf_dir), "lang", {"en": 0.5, "zh": 0.25}
    ).select("doc_id", "lang", "source")


def q_corpus_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixing (T5 §3.4.3-style): keep rates
    per source from n_s^(1/T) shares at T=2, target fraction 0.5, with the
    same engine-portable md5-u16 draw as corpus_sample.  One tiny count
    aggregate + a broadcast rate join — no corpus shuffle."""
    return corpus.temperature_mix(
        _docs(spark, sf_dir), "source", temperature=2.0, target_fraction=0.5
    ).select("doc_id", "source")


def q_doc_dup_span_stats(spark, sf_dir):
    """Duplicated-span coverage per doc (Lee et al. 2021 ExactSubstr,
    re-expressed at word-3-gram granularity): fraction of each document's
    tokens covered by grams that recur elsewhere in the corpus (keep-first).
    Candidate shuffle is keyed by the 16-byte gram md5, never text."""
    return span_dedup.dup_span_stats(_docs(spark, sf_dir), k=3)


def q_doc_dup_span_clean(spark, sf_dir):
    """Span-level dedup rebuild: each document re-assembled from only the
    tokens NOT covered by duplicated 3-grams (global keep-first keeps the
    lexicographically smallest (doc, pos) occurrence intact)."""
    return span_dedup.remove_dup_spans(_docs(spark, sf_dir), k=3)


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C-style n-gram collision):
    docs whose md5(doc_id) leads with hex '0'/'1' act as the held-out eval
    benchmark (1/8 of the corpus — deterministic, engine-portable); every
    other doc is flagged iff it shares >=1 distinct word 5-gram with the
    benchmark.  Non-trivial at sf0.01 (planted near-dups straddle the
    split: 11 contaminated docs, 383 gram hits).  The oracle recomputes the
    full gram-collision semantics with no knowledge of the broadcast
    structure."""
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    return corpus.decontaminate(docs.filter(~is_bench), docs.filter(is_bench), n=5)


def q_doc_decontaminate_bloom(spark, sf_dir):
    """Bounded-memory decontamination twin: same benchmark split and 5-gram
    semantics as q_doc_decontaminate, but membership goes through a
    2^20-bit / 4-hash Bloom set, so the broadcast is bounded by m_bits no
    matter how large the benchmark grows.  Deterministic given (m, k) —
    the oracle replays md5-u32 positions, set-bit construction and the
    all-positions-hit rule end to end (false positives and all)."""
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    return corpus.decontaminate_bloom(
        docs.filter(~is_bench), docs.filter(is_bench), n=5, m_bits=1 << 20, n_hashes=4
    )


def q_doc_fuzzy_decontam(spark, sf_dir):
    """Fuzzy (MinHash-LSH near-duplicate) benchmark decontamination — the
    paraphrase-light companion of the exact n-gram gate: same md5-hex
    '0'/'1' benchmark split, but a corpus doc is flagged when its shingle
    Jaccard against ANY benchmark doc reaches 0.2 (the contract corpus's
    planted near-dup band), decided by the cross-multiplied integer rule.
    md5 hashing makes the whole candidate structure DuckDB-expressible;
    the oracle rebuilds shingles, signatures, band keys, the cross-corpus
    candidate join and the integer verify end to end (xxhash64 stays the
    production hash — `dedup.fuzzy_decontaminate`'s default)."""
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    return dedup.fuzzy_decontaminate(
        docs.filter(~is_bench),
        docs.filter(is_bench),
        threshold=0.2,
        hash_impl="md5",
    )


# BM25's one source of truth for the contract query set — the Spark query
# and the DuckDB oracle both render from this list
BM25_QUERIES = [
    (1, "hash join table"),
    (2, "slow scan filter"),
    (3, "spark merge sort batch"),
]


def q_doc_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-5 per query over the documents corpus (k1=1.2,
    b=0.75, Lucene idf): postings are broadcast-filtered to the query
    vocabulary at the scan, tf/df are one aggregate each, scores accumulate
    as integer micro-units (round-6 idf and per-term contributions), rank
    ties break by doc id.  The oracle recomputes tokenization, df/tf,
    corpus stats and the quantized scoring chain end to end."""
    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id int, query_text string")
    return retrieval.bm25_topk(docs, queries, k=5)


def q_doc_lev_neardup(spark, sf_dir):
    """Edit-distance-verified near-dup pairs: MinHash md5 band candidates
    (threshold=0 → the raw banded candidate set, the same structure the
    minhash oracle proves) re-verified by bounded Levenshtein <= 5 — the
    right verifier for small in-place edits that k-gram Jaccard misjudges.
    Texts re-attach to the narrow candidate pairs via two id equi-joins;
    the oracle rebuilds candidates AND the edit-distance filter end to
    end.  Non-trivial at sf0.01: 24 of 25 candidates pass, 1 rejected."""
    docs = _docs(spark, sf_dir)
    cands = dedup.minhash_lsh_pairs(docs, threshold=0.0, hash_impl="md5")
    return dedup.levenshtein_verified_pairs(cands, docs, max_dist=5)


def q_doc_chunks(spark, sf_dir):
    """Token-window chunking: 24-token windows every 18 tokens (overlap 6),
    trailing windows that add no new tokens dropped, chunk text re-joined
    from the window's tokens.  At sf0.01's 10-99-token docs this yields
    1-5 chunks per doc with real dropped tails.  The oracle replays
    tokenization, window starts, the keep rules and the re-join."""
    return chunking.chunk_documents(_docs(spark, sf_dir), max_tokens=24, overlap=6)


def q_corpus_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-split sequence packing: the corpus becomes one
    deterministic md5(id)-ordered token stream cut into 64-token training
    sequences; one row per (doc, sequence) segment with in-sequence slot,
    in-doc token range and the segment text.  At sf0.01 (500 docs,
    10-99 tokens each) most docs span a sequence boundary, so the
    boundary-splitting arithmetic is exercised hundreds of times.  The
    oracle replays the ENTIRE decomposition with ONE global cumsum window
    — proving the 256-bucket two-phase offsets equal a true global order."""
    return chunking.pack_sequences(_docs(spark, sf_dir), seq_len=64)


def q_corpus_pack_bylang(spark, sf_dir):
    """Group-coherent sequence packing: the SAME concat-and-split
    decomposition with the stream ordered (lang, md5(id), id), so
    same-language documents are adjacent and a fixed-length training
    sequence rarely straddles two languages — the long-context packing
    a multilingual pretraining mix wants.  The oracle replays the
    lang-prefixed global cumsum, proving the |groups|×256-bucket
    two-phase equals the true grouped order."""
    return chunking.pack_sequences(
        _docs(spark, sf_dir), seq_len=64, order_col="lang"
    )


def q_corpus_cap_group(spark, sf_dir):
    """Per-group quota capping: at most 100 docs per language, survivors
    the 100 smallest (md5(id), id) draws — en (218 docs at sf0.01) is
    capped, the other four languages pass through the windowless
    under-cap path, so both plan branches are exercised and the union is
    verified as one result."""
    return corpus.cap_per_group(_docs(spark, sf_dir), "lang", 100).select(
        "doc_id", "lang", "source"
    )


def q_doc_pii_scrub(spark, sf_dir):
    """PII redaction: emails / IPv4s / long digit runs replaced by tokens,
    per-class match counts kept.  The corpus text is word salad with no PII,
    so half the docs (md5 nibble < 8) get a deterministic PII-bearing
    suffix synthesized from doc_id — giving the scrubber real work whose
    expected output the oracle derives independently; the other half prove
    the no-op path leaves text untouched."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    has_pii = F.substring(F.md5(did), 1, 1).isin(*"01234567")
    aug = F.when(
        has_pii,
        F.concat(
            F.col("text"),
            F.lit(" contact u"), did,
            F.lit("@mail.example from 10.2.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" ref 9000000"), did,
        ),
    ).otherwise(F.col("text"))
    out = textstats.scrub_pii(docs.withColumn("text", aug))
    return out.select("doc_id", "n_emails", "n_ips", "n_nums", "text_clean")


def q_doc_ngram_jaccard(spark, sf_dir):
    """GLOBAL exact n-gram Jaccard near-dup pairs via prefix filtering.

    The oracle is a brute-force all-pairs join over the whole corpus — it
    encodes NO candidate structure, so a hash match proves the prefix-filter
    path is globally exact.  threshold=0.2 surfaces the corpus's planted
    near-dup pairs (25 at sf0.01) — a 0-row match would prove nothing."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), k=2, threshold=NGRAM_JACCARD_T)


def q_doc_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (hash-seeded → rows-only check)."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2)


def q_doc_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Arrow UDF → rows-only check).  Kept as the
    production path; the contract slot belongs to the md5 twin below, whose
    oracle transitively vouches for this machinery (tests prove the two
    differ only in the token-hash function)."""
    return dedup.simhash_neardup_pairs(dedup.simhash_table(_docs(spark, sf_dir)), max_hamming=8)


def q_doc_simhash_md5(spark, sf_dir):
    """SimHash with md5-derived signature bits — the exact-oracle twin of
    doc_simhash: the SAME ``simhash_neardup_pairs`` candidate machinery
    (Manku 1-bit-flip band enumeration + bit_count Hamming verify) runs over
    ``simhash_md5_table``'s engine-portable signatures.  The oracle is
    brute-force all-pairs Hamming over the same md5 bits (NO candidate
    structure leaked), so a hash match proves both the signature math and
    the flip-enumeration rule's losslessness at radius 8."""
    return dedup.simhash_neardup_pairs(
        dedup.simhash_md5_table(_docs(spark, sf_dir)), max_hamming=8
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash fingerprints (xxhash64 — rows-only check)."""
    return textstats.with_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint", "md5_full"
    )


def q_doc_fingerprint_md5(spark, sf_dir):
    """Winnowing-lite fingerprint with the md5 window hash — the
    engine-portable twin of doc_fingerprint: identical min-over-windows
    structure, EXACT DuckDB oracle (xxhash64 stays the production hash)."""
    return textstats.with_fingerprint_md5(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint_md5"
    )


def q_doc_minhash_lsh_md5(spark, sf_dir):
    """MinHash+LSH with md5 hashing — the exact-oracle twin of
    doc_minhash_lsh: same shingle → signature → band-bucket → verify
    pipeline, every hash DuckDB-expressible, so the whole LSH candidate
    structure is cross-engine proven (xxhash64 stays the production hash)."""
    out = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.2, hash_impl="md5"
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_doc_neardup_groups(spark, sf_dir):
    """Near-dup GROUP resolution: connected components (min-label
    propagation) over the exact global Jaccard pair graph — every doc maps
    to its cluster representative, singletons to themselves.  Exact oracle:
    DuckDB recursive-CTE reachability with min-reachable-id."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=NGRAM_JACCARD_T)
    ids = docs.select(F.col("doc_id").alias("id"))
    return dedup.neardup_groups(ids, pairs)


def q_doc_dedup_kept(spark, sf_dir):
    """The terminal dedup artifact: the corpus with near-dup groups
    collapsed to their representative (lowest-id) doc — what a training
    pipeline actually feeds downstream."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=NGRAM_JACCARD_T)
    groups = dedup.neardup_groups(docs.select(F.col("doc_id").alias("id")), pairs)
    return dedup.drop_near_duplicates(docs, groups).select("doc_id", "lang", "n_chars")


def q_conv_response_latency(spark, sf_dir):
    """Per-conversation assistant response-latency stats over adjacent
    user→assistant turn pairs — exact integer microseconds; only the
    median's interpolated midpoint can be fractional (identical in both
    engines)."""
    parsed = _parsed(spark, sf_dir)
    return windows_ops.response_latency(
        parsed, "conv_id", ["turn_idx"], "role", "ts"
    )


def q_customer_fuzzy_match(spark, sf_dir):
    """Record linkage over structured rows: customers vs a deterministic
    DIRTY copy (typo'd name everywhere; synthetic addr mildly perturbed,
    every 5th reversed = unlinkable), blocked by nation, scored by
    weighted integer-micro Levenshtein similarity.  Threshold 0.8 keeps
    exactly the 4/5 true twins (~874k micro) and drops both the heavy
    perturbations (~597k) and every cross-customer pair (<600k)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    addr = F.concat(
        F.lit("addr-"),
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8),
    )
    clean = cust.select("c_custkey", "c_name", "c_nationkey").withColumn(
        "addr", addr
    )
    dirty = clean.select(
        (F.col("c_custkey") + 1000000).alias("d_id"),
        F.regexp_replace("c_name", "Customer", "Custmer").alias("d_name"),
        "c_nationkey",
        F.when(F.col("c_custkey") % 5 == 0, F.reverse(F.col("addr")))
        .otherwise(F.concat(F.substring("addr", 1, 10), F.lit("zz")))
        .alias("d_addr"),
    )
    return joins.fuzzy_match(
        clean,
        dirty,
        ["c_nationkey"],
        [("c_name", "d_name", 600_000), ("addr", "d_addr", 400_000)],
        "c_custkey",
        "d_id",
        threshold_micro=800_000,
    )


def q_doc_dedup_best(spark, sf_dir):
    """Quality-ranked canonical selection: collapse each near-dup group to
    its LONGEST member (n_chars desc, doc_id tiebreak) — the keep-best
    production variant of doc_dedup_kept (RefinedWeb keeps by length)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=NGRAM_JACCARD_T)
    groups = dedup.neardup_groups(docs.select(F.col("doc_id").alias("id")), pairs)
    return dedup.keep_best(docs, groups, "n_chars").select(
        "doc_id", "lang", "n_chars"
    )


def q_embed_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for every 50th vector as query."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.cosine_topk(emb, queries, k=3)


def q_embed_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN top-3 over a deterministic engine-portable index:
    8 md5-seeded centroids (``md5_seed_centroids`` — lowest md5(vec_id)
    unit vectors, round-6 components, zero k-means rounds), projection-only
    assignment, probe the 4 nearest buckets per query.  Given this index
    the whole probe is deterministic and DuckDB-expressible, so the oracle
    recomputes index build + assignment + probe + top-k EXACTLY — the
    approximation (vs exact top-k) is a property of the algorithm, not an
    excuse to skip the cross-engine check.  The kmeans-built production
    index (``assign_centroids``) keeps a rows-only retired twin; the probe
    machinery is identical."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    assigned = similarity.assign_to_centroids(emb, cents)
    return similarity.ivf_topk(
        emb, queries, k=3, n_probe=4, prebuilt=(assigned, cents)
    )


def q_embed_pca_project(spark, sf_dir):
    """PCA projection of the embedding corpus to 8 whitened components —
    the OPQ-style preprocessing stage before ANN / SemDeDup.  Rows-only by
    design: the covariance folds float partial sums in partition order, so
    the last ulps are layout-dependent (same class as the k-means IVF
    build); orthonormality / variance-ordering / whitening invariants are
    unit-tested instead."""
    emb = _embeddings(spark, sf_dir)
    model = similarity.pca_fit(emb, k=8, whiten=True)
    return similarity.pca_project(emb, model)


def q_embed_ivf_topk_kmeans(spark, sf_dir):
    """Production IVF index (xxhash64 seeds + Lloyd rounds) — rows-only
    retired twin of embed_ivf_topk; recall floor asserted in tests."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=4)


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via sign-band LSH candidates
    (content-based; the oracle mirrors the same deterministic hyperplanes).
    band_bits=4 / threshold=0.3 are calibrated to the synthetic corpus for a
    non-trivial result (~85% of the 990 global pairs at sf0.01)."""
    return similarity.embedding_neardup_pairs(
        _embeddings(spark, sf_dir), threshold=0.3, dim=64, n_planes=64, band_bits=4
    )


def q_embed_quantized_topk(spark, sf_dir):
    """Approximate top-3 over int8-quantized vectors (every 50th vector as
    query) — the vector-compression path: 1 byte/dim codes, EXACT integer
    scores, so past the shared round-6 quantizer the cross-engine check has
    no float arithmetic at all.  The matmul production twin's row identity
    and the recall floor vs exact float top-k are unit-tested."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.quantized_topk(emb, queries, k=3)


def q_corpus_vocabulary(spark, sf_dir):
    """Tokenizer-build first artifact: top-200 corpus tokens by frequency
    (count desc, token asc), one token-keyed shuffle + TakeOrdered cut."""
    return textstats.vocabulary(_docs(spark, sf_dir), top_v=200)


def q_doc_unigram_surprise(spark, sf_dir):
    """CCNet-style statistical-LM quality signal: per-doc mean negative log
    probability under the corpus's own unigram frequencies (round-6 at the
    token and doc level; empty docs 0.0)."""
    return textstats.unigram_surprise(_docs(spark, sf_dir))


def q_corpus_overlap_matrix(spark, sf_dir):
    """Cross-source duplicate audit: the md5-minhash near-dup pairs folded
    into the unordered (source_a, source_b, n_pairs) overlap matrix —
    which ingest feeds mirror each other vs self-duplicate, the table read
    before choosing keep-first precedence.  Pairs carry only ids into the
    two label joins; the oracle recomputes the full LSH pipeline AND the
    matrix fold."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2, hash_impl="md5")
    return dedup.source_overlap_matrix(docs, pairs)


def q_corpus_shard_assign(spark, sf_dir):
    """Rendezvous (highest-random-weight) shard placement over the corpus:
    content-independent, reproducible in any engine, and resize-stable
    (adding a shard moves only the rows it wins — unit-proven).  Pure
    zero-shuffle projection."""
    return corpus.rendezvous_assign(
        _docs(spark, sf_dir), ["shard-a", "shard-b", "shard-c", "shard-d"]
    ).select("doc_id", "shard")


MARKUP_PREFIX = '<div class="doc"><p id="'
MARKUP_MID = '">'
MARKUP_SUFFIX = (
    " &amp;amp; <b>bold</b> &lt;raw&gt;</p><!-- c --></div>"
    '<script>var x = "<p>";</script><style>p{}</style>'
)
NFC_SUFFIX = " voila\u0300"  # DECOMPOSED: a + combining grave -> \u00e0 under NFC


def q_graph_tool_k_core(spark, sf_dir):
    """2-core of the tool transition graph: iterative peel of degree-<2
    nodes — the dense workflow backbone vs peripheral one-off tools.  The
    k-core is order-independent and unique, so Spark's peel-until-stable
    and the oracle's unrolled fixed rounds reach the identical fixpoint."""
    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    return graph.k_core(
        edges.selectExpr("from_state AS src", "to_state AS dst"), k=2
    )


URL_HOSTS = [
    "ads.tracker.com", "cdn.example.org", "news.bbc.co.uk", "spam.biz",
    "mirror.data.net", "files.archive.org", "evil.co.uk", "static.safe.io",
]
BLOCKED_DOMAINS = ["tracker.com", "spam.biz", "evil.co.uk"]


def _docs_with_urls(spark, sf_dir):
    """Docs with two deterministically injected URLs (md5-u16 host picks —
    both engines build the IDENTICAL text): one https with a path, one
    http with userinfo + port + query ending in sentence punctuation, so
    extraction, trailing-punct trim, authority stripping and eTLD+1 are
    all exercised on every row."""
    u16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    hosts = F.array(*[F.lit(h) for h in URL_HOSTS])
    h1 = F.element_at(hosts, (u16 % 8 + 1).cast("int"))
    h2 = F.element_at(hosts, ((u16 / 8).cast("long") % 8 + 1).cast("int"))
    return _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" See https://"), h1, F.lit("/r/"),
            F.col("doc_id").cast("string"), F.lit(" and http://u:p@"), h2,
            F.lit(":8080/dl?x=1, done."),
        ),
    )


def q_doc_url_blocklist(spark, sf_dir):
    """C4-style domain blocklist gate: extract every URL, canonicalize to
    registered domains (eTLD+1 incl. two-level suffixes like co.uk), drop
    docs citing any blocked domain — pure scan-fused projection, the
    blocklist a literal in the plan."""
    docs = urls.with_url_domains(_docs_with_urls(spark, sf_dir))
    return urls.blocklist_filter(docs, BLOCKED_DOMAINS).select(
        "doc_id",
        F.concat_ws(",", "domains").alias("domains"),
        F.size("urls").alias("n_urls"),
    )


def q_doc_url_domains(spark, sf_dir):
    """Per-registered-domain citing-doc counts — the audit table a
    blocklist decision is made from (one narrow domain-keyed shuffle)."""
    docs = urls.with_url_domains(_docs_with_urls(spark, sf_dir))
    return urls.domain_counts(docs)


def q_graph_error_distance(spark, sf_dir):
    """Multi-source BFS over the (symmetrized) tool transition graph:
    minimum workflow hops from each tool to the error-adjacent set (tools
    whose very next turn is an error) — blast-radius triage for agent
    workflows.  Round t settles exactly the distance-t frontier, so the
    unrolled MATERIALIZED-CTE oracle matches bit-for-bit."""
    from pyspark.sql import Window

    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = _parsed(spark, sf_dir).select(
        "tool", F.lead("turn_class").over(w).alias("next_class")
    )
    srcs = (
        nxt.filter((F.col("tool") != "-") & (F.col("next_class") == "error"))
        .select("tool")
        .distinct()
    )
    return graph.bfs_hops(
        edges.selectExpr("from_state AS src", "to_state AS dst"),
        srcs,
        max_hops=4,
        directed=False,
    )


def q_doc_strip_markup(spark, sf_dir):
    """HTML/markup stripping over deterministically marked-up docs (both
    engines build the IDENTICAL wrapped input, so the op — script/style
    block drop, comment/tag removal, entity decode with &amp; last,
    whitespace collapse — is what the hash proves).  Pure JVM
    regexp_replace chain; every pattern RE2-safe so DuckDB runs it
    verbatim."""
    docs = _docs(spark, sf_dir)
    wrapped = docs.withColumn(
        "text",
        F.concat(
            F.lit(MARKUP_PREFIX),
            F.col("doc_id").cast("string"),
            F.lit(MARKUP_MID),
            F.col("text"),
            F.lit(MARKUP_SUFFIX),
        ),
    )
    return textstats.strip_markup(wrapped).select("doc_id", "clean_text")


def q_doc_normalize_unicode(spark, sf_dir):
    """Unicode NFC normalization (Arrow-batched pandas str.normalize vs
    DuckDB nfc_normalize — the same Unicode standard, byte-identical):
    each doc's text gets a decomposed combining-accent suffix so the
    normalization is exercised on every row, not a pass-through."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit(NFC_SUFFIX))
    )
    return textstats.normalize_unicode(docs, "NFC").select("doc_id", "norm_text")


def q_graph_tool_triangles(spark, sf_dir):
    """Per-tool triangle counts over the transition graph (undirected,
    deduped, self-loops dropped): interlocking workflow cliques vs
    hub-and-spoke usage.  Canonical a<b<c enumeration via two narrow
    equi-joins; the oracle replays canonicalization, enumeration, and the
    three-corner credit."""
    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    return graph.triangle_counts(
        edges.selectExpr("from_state AS src", "to_state AS dst")
    )


def q_doc_tfidf_top(spark, sf_dir):
    """Per-doc keyword extraction: top-3 tokens by TF-IDF (smoothed idf in
    integer micro-nats, score = exact integer tf·idf_micro; score desc,
    token asc).  Distinct from BM25 (docs-vs-query): this ranks TOKENS
    within each doc against the corpus."""
    return textstats.tfidf_top_terms(_docs(spark, sf_dir), m=3)


def q_doc_readability(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade per document (Kincaid et
    al. 1975) in exact integer milli-units: words from the repo tokenizer,
    sentences = [.!?]+ runs floored at 1, syllables = per-word [aeiouy]+
    runs floored at 1, both formulas evaluated with integral division only
    so the oracle replays the identical integers.  Pure zero-shuffle
    zero-Python projection."""
    return textstats.readability(_docs(spark, sf_dir))


def q_graph_tool_overlap(spark, sf_dir):
    """Neighbor-set Jaccard between tool pairs over the (undirected) tool
    transition graph — which tools are workflow-interchangeable (share the
    same partners) even when they never co-occur directly.  Wedge join on
    the shared neighbor id, integral-division micro scores; the oracle
    recomputes edges, degrees, wedges and the division exactly."""
    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    return graph.neighborhood_overlap(
        edges.selectExpr("from_state AS src", "to_state AS dst")
    )


def q_doc_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 top-20 and token-set-Jaccard top-20 per query
    fused by reciprocal-rank fusion (Cormack et al. 2009, k0=60) into a
    final top-5 — the standard score-free merge of lexical + second-signal
    rankings.  Every per-list contribution is 1_000_000 div (60 + rank) in
    exact integers; the oracle recomputes BOTH rankers end to end (BM25's
    quantized scoring chain, Jaccard's integral-division scores) plus the
    fusion."""
    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id int, query_text string")
    bm = retrieval.bm25_topk(docs, queries, k=20)
    jac = retrieval.jaccard_topk(docs, queries, k=20)
    return retrieval.rrf_fuse([bm, jac], k=5, k0=60)


_WRAP_PREFIX = (
    "begin standard mirror header this page is served from the archive "
    "cache layer for offline reading convenience "
)
_WRAP_SUFFIX = (
    " end standard mirror footer all rights remain with the original "
    "publisher retrieved by the archive crawler"
)


def q_doc_containment(spark, sf_dir):
    """Shingle-set CONTAINMENT pairs (Broder 1997's asymmetric measure,
    c(A→B) = |A∩B|/|A|) at threshold 0.9 over the corpus augmented with
    deterministic mirror-wrapped copies of every 10th doc (header + text +
    footer) — the short-doc-inside-long-doc duplication resemblance-based
    dedup is structurally blind to (the wrapper dilutes Jaccard below
    threshold while containment of the original is exactly 1).  Candidates
    via the asymmetric prefix filter; the integer cross-multiplied decision
    and both directional micro scores replay exactly in the brute-force
    all-pairs oracle."""
    docs = _docs(spark, sf_dir)
    wrapped = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(_WRAP_PREFIX), F.col("text"), F.lit(_WRAP_SUFFIX)).alias(
            "text"
        ),
    )
    aug = docs.select("doc_id", "text").unionByName(wrapped)
    return dedup.containment_pairs(aug, k=3, threshold=0.9)


def q_embed_mmr(spark, sf_dir):
    """MMR diverse re-ranking (Carbonell & Goldstein 1998) of the
    brute-force cosine top-20 candidates: greedy λ·rel − (1−λ)·max-sim
    selection (λ=0.7) to top-5 per query, all-integer objective
    (micro rel/sim → pico values), ties → lowest id.  The oracle recomputes
    candidates, the pairwise sim matrix and all five greedy rounds as
    unrolled MATERIALIZED CTEs — the same discipline as the PageRank
    replay."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cand = similarity.cosine_topk(emb, queries, k=20)
    units = similarity.with_unit_vec(emb).select(
        F.col("vec_id").alias("corpus_id"), "unit"
    )
    return similarity.mmr_rerank(cand.join(units, "corpus_id"), k=5)


def q_events_attribution(spark, sf_dir):
    """Multi-touch conversion attribution: every purchase credits its
    trailing-24h click/view touches under last / first / linear models in
    one pass — candidates from the hour-bucketed interval join, ONE
    descending window (first-touch = rank n), exact integer micro credits,
    zero-touch conversions completed via anti join.  The oracle replays
    the window semantics, tie rules and integral divisions end to end."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.attribution(ev)


def q_embed_cluster_psi(spark, sf_dir):
    """Embedding-distribution drift between two corpus snapshots (labels
    0-4 vs 5-9): both sides assigned to the SAME 8 md5-seeded centroids
    (projection-only), PSI over the two cluster-occupancy histograms via
    the shared integer micro-nat core — the semantic drift monitor a
    snapshot refresh alerts on.  Seeds, round-6 assignment, smoothing and
    the single integral division all replay end to end in the oracle."""
    emb = _embeddings(spark, sf_dir)
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    return similarity.cluster_histogram_psi(
        emb.filter(F.col("label") < 5), emb.filter(F.col("label") >= 5), cents
    )


def q_doc_loop_detection(spark, sf_dir):
    """Degenerate-loop detection: longest period-p token repeat (p ≤ 8,
    ≥ 2 full repetitions) per document — the looping-decoder failure mode
    duplicate-fraction signals under-weight.  Zero-shuffle zero-Python
    fold over the let-bound token array; the oracle is a DIFFERENT
    algorithm (positional self-join + islands-trick run lengths), so
    agreement verifies the rule, not a replay."""
    return textstats.loop_detection(_docs(spark, sf_dir), max_period=8)


def q_doc_classifier_calibration(spark, sf_dir):
    """Reliability curve of the NB quality classifier: per fixed-width
    mean-logodds bin, the observed lang='en' rate — the check that a
    higher score actually means more-target-like before the gate's
    threshold is trusted.  PSI-style deterministic binning, one narrow
    (bin) conditional count; the oracle rebuilds the whole classifier
    chain plus the binning."""
    docs = _docs(spark, sf_dir)
    return textstats.classifier_calibration(
        docs, F.col("lang") == "en", n_buckets=4096, bin_width_milli=10
    )


def q_doc_lang_margin(spark, sf_dir):
    """Language-ID confidence: top-2 stopword-hit languages per doc with
    margin and a code-switching ``mixed`` flag (second language at >= half
    the winner's evidence and >= 2 hits) — the docs a single-label gate
    mislabels.  Shares lists and the struct-max tie rule with doc_langid;
    the oracle replays the sorted-struct top-2 and the flag rule."""
    return textstats.with_lang_margin(_docs(spark, sf_dir)).select(
        "doc_id", "lang_pred", "best_hits", "second_lang", "second_hits",
        "margin", "mixed",
    )


def q_corpus_diversity(spark, sf_dir):
    """Corpus distinct-n diversity (distinct n-grams / total occurrences
    for n=1..3) — the one-table "how templated is this corpus?" audit a
    dedup rollout watches.  Grams leave the scan as md5 keys (text never
    shuffles); the oracle mirrors the shingling and the md5
    count-distinct exactly."""
    return textstats.distinct_ngram_ratio(_docs(spark, sf_dir), ns=(1, 2, 3))


def q_doc_softdedup(spark, sf_dir):
    """SoftDedup reweighting (He et al. 2024): every document kept, each
    exact-dup group's members weighted 1_000_000 div n_copies micro-units
    so a group contributes one document of sampling mass.  Group key is
    (md5(text), length) — text never shuffles; the oracle replays the
    integral division exactly."""
    return dedup.softdedup_weights(_docs(spark, sf_dir))


def q_graph_tool_communities(spark, sf_dir):
    """Tool communities by deterministic synchronous weighted label
    propagation over the same transition graph as the PageRank query —
    which tools co-occur in workflow clusters.  All-integer votes with
    (votes desc, label asc) ties, so the oracle replays every round."""
    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    return graph.label_propagation(
        edges.selectExpr("from_state AS src", "to_state AS dst", "n AS w"),
        n_iters=4,
    )


def q_embed_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster embeddings to the 8 md5-seeded
    deterministic centroids, prune within-cluster pairs at cosine >= 0.3 to
    one representative per connected component (keep-first).  Every stage —
    seed selection, assignment, within-cluster cosine, reachability — is
    recomputed end to end by the DuckDB oracle (the same given-this-index
    discipline as embed_ivf_topk)."""
    emb = _embeddings(spark, sf_dir)
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    return semdedup.semdedup(emb, threshold=0.3, cents=cents)


def q_corpus_leakage_split(spark, sf_dir):
    """Leakage-free train/eval split: near-dup GROUPS (exact global Jaccard
    pairs -> connected components) are assigned to splits atomically by the
    group representative's md5-u16 draw (eval_fraction=0.1), so no
    near-duplicate pair straddles the boundary.  Oracle recomputes pairs,
    reachability, and the split draw independently."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=NGRAM_JACCARD_T)
    groups = dedup.neardup_groups(docs.select(F.col("doc_id").alias("id")), pairs)
    return corpus.leakage_safe_split(docs, groups, eval_fraction=0.1).select(
        "doc_id", "rep_id", "split"
    )


def q_embed_d4_prune(spark, sf_dir):
    """D4 (Tirumala et al. 2023): SemDeDup at cosine 0.3 over the 8
    md5-seeded centroids, then SSL-prototypes diversification — per cluster,
    drop the floor(0.5·n) survivors MOST similar to their centroid.  The
    oracle recomputes seeds, assignment, within-cluster pairs, reachability,
    AND the per-cluster prototypicality rank cut end to end."""
    emb = _embeddings(spark, sf_dir)
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    return semdedup.d4_prune(
        emb, threshold=0.3, keep_fraction=0.5, cents=cents
    )


def q_embed_cluster_balanced(spark, sf_dir):
    """Cluster-balanced downsampling: nearest-md5-seed-centroid assignment,
    then each cluster sampled at min(1, cap/n_c) via the 'cbal:'-prefixed
    md5-u16 draw — the embedding-space mixture flattener.  The oracle
    rebuilds seeds, assignment, per-cluster rates and the integer-threshold
    draw end to end."""
    emb = _embeddings(spark, sf_dir)
    cents = similarity.md5_seed_centroids(emb, n_centroids=8)
    return semdedup.cluster_balanced_sample(
        emb, cap_per_cluster=40, cents=cents
    )


def q_corpus_dsir_select(spark, sf_dir):
    """DSIR (Xie et al. 2023) data selection: top-100 docs by unigram-LM
    importance weight toward the lang='en' slice (integer micro-nat log
    weights — exact in both engines; ties → lowest doc_id)."""
    docs = _docs(spark, sf_dir)
    return textstats.dsir_select(docs, F.col("lang") == "en", k=100)


def q_doc_quality_classifier(spark, sf_dir):
    """GPT-3-style model-based quality gate: a closed-form Naive-Bayes
    linear classifier over fastText-hashed unigram+bigram features (4096
    buckets), trained toward the lang='en' slice and scoring every doc —
    integer micro-nat sums, so both engines produce bit-identical scores.
    The oracle rebuilds feature hashing, both conditional LMs, the weight
    quantization and the per-doc sums end to end."""
    docs = _docs(spark, sf_dir)
    return textstats.ngram_quality_classifier(
        docs, F.col("lang") == "en", n_buckets=4096
    )


def q_doc_winnow(spark, sf_dir):
    """Full winnowing fingerprints (Schleimer et al. 2003): md5 over every
    16-char gram, window of 8 gram hashes, min-per-window with rightmost
    tie-break, distinct (pos, hash) pairs.  The oracle replays gram
    hashing, the reversed-list rightmost-min rule and the dedup in DuckDB
    list algebra; xxhash64 stays the production hash (guarantee tested
    behaviorally)."""
    docs = _docs(spark, sf_dir)
    return textstats.winnow_fingerprints(docs, k=16, w=8, hash_impl="md5")


def q_doc_pareto_gate(spark, sf_dir):
    """GPT-3's stochastic quality gate (Brown et al. 2020 App. A): NB
    classifier scores mapped through sigmoid, then keep iff a deterministic
    Pareto(9) draw (md5-u16 under a 'pareto:' domain prefix, pre-inverted
    through the CDF) exceeds 1 - quality.  The oracle rebuilds the whole
    classifier chain AND the gate arithmetic."""
    docs = _docs(spark, sf_dir)
    scored = textstats.ngram_quality_classifier(
        docs, F.col("lang") == "en", n_buckets=4096
    )
    return textstats.pareto_classifier_gate(scored, alpha=9.0).select(
        "doc_id", "mean_logodds", "keep_pareto"
    )


def q_corpus_report(spark, sf_dir):
    """One-pass corpus audit report per source x lang: doc/token/char
    totals, token extrema, Gopher-gate keeps (min_stopwords=1 on this
    corpus), PII-bearing doc counts.  Integer-only aggregate — the oracle
    rebuilds the Gopher chain and the PII presence test end to end."""
    docs = _docs(spark, sf_dir)
    return corpus.corpus_report(docs, gopher_min_stopwords=1)


def q_doc_line_dedup(spark, sf_dir):
    """Exact line-level corpus dedup (RefinedWeb/MassiveText style) over
    the transcript-assembled docs: any eligible line (>= 2 word tokens)
    recurring anywhere in the corpus keeps only its first (conv, line_no)
    occurrence.  Complements the assembly's boilerplate strip, which only
    removes turns recurring across >= 10% of conversations — this catches
    a line duplicated even twice.  The oracle replays assembly,
    eligibility, the keep-first window and the indexed rebuild."""
    docs = corpus.transcripts_to_docs(transcripts_from_events(spark, sf_dir))
    return span_dedup.dedup_lines(docs, min_words=2, id_col="conv_id")


def q_doc_strip_common_lines(spark, sf_dir):
    """Boilerplate-line stripping over the transcript-assembled docs: any
    eligible line (>= 2 word tokens) present in >= max(2, ceil(3% of
    convs)) DISTINCT conversations is removed everywhere (no keeper) —
    the skew-safe frequency companion of doc_line_dedup.  The oracle
    replays assembly, eligibility, the distinct-doc threshold and the
    indexed rebuild."""
    docs = corpus.transcripts_to_docs(transcripts_from_events(spark, sf_dir))
    return span_dedup.strip_common_lines(
        docs, max_doc_frac=0.03, min_words=2, id_col="conv_id"
    )


def q_doc_gopher_rules(spark, sf_dir):
    """Gopher quality-filter gate (Rae et al. 2021 A1.1) at the paper's
    thresholds: per-rule booleans + the composite keep flag, every ratio
    threshold evaluated as a cross-multiplied INTEGER comparison so the
    DuckDB oracle replays the arithmetic bit-exactly."""
    docs = _docs(spark, sf_dir)
    # min_stopwords=1, not the paper's 2: the synthetic corpus's vocabulary
    # contains exactly one of Gopher's 8 stopwords ('the'), so the paper
    # threshold is constant-false here and would hide oracle divergence.
    return textstats.gopher_rules(docs, min_stopwords=1).select(
        "doc_id", "n_words", "g_word_count", "g_mean_word_len",
        "g_symbol_ratio", "g_bullet_lines", "g_ellipsis_lines",
        "g_alpha_words", "g_stopwords", "keep_gopher",
    )


def q_doc_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail partitioning (Wenzek et al. 2020 §4.4):
    per-language equal-mass surprise buckets via the (lang, micro-nat
    score) histogram CDF — all-integer bucket math, no per-doc rank window.
    The oracle rebuilds the unigram LM, the histogram and the cumulative
    cut end to end."""
    docs = _docs(spark, sf_dir)
    return textstats.perplexity_buckets(docs, n_buckets=3)


def q_embed_semantic_decontam(spark, sf_dir):
    """Embedding-space benchmark decontamination: every corpus vector's max
    round-6 cosine against a deterministic pseudo-eval slice (vec_id % 37
    == 0), flagged at threshold 0.3 (calibrated non-trivial on the
    synthetic corpus like embed_neardup).  Expression twin in contract; the
    zero-join matmul production path is asserted row-identical in tests."""
    emb = _embeddings(spark, sf_dir)
    return similarity.semantic_decontaminate(
        emb.filter(F.col("vec_id") % 37 != 0),
        emb.filter(F.col("vec_id") % 37 == 0),
        threshold=0.3,
    )


def q_multimodal_features(spark, sf_dir):
    """Binary media columns + whole-batch Arrow feature extraction, emitted
    as the DuckDB-expressible slice (n_bytes = utf-8 byte length, md5 over
    the payload bytes) so the driver's value-hash check is EXACT; byte
    mean/std/histogram stay in the full extractor output (unit-tested)."""
    media = multimodal.synth_media(_docs(spark, sf_dir))
    return multimodal.feature_extract(media).select(
        "media_id", "kind", "n_bytes", "md5"
    )


def q_events_changepoint(spark, sf_dir):
    """Pettitt single-changepoint localization per event type: WHEN did
    the hourly level shift — the rank-based complement of burst_hours
    (point anomalies) and cusum (drift alarms needing a magnitude knob).
    Integer-exact end to end: doubled mid-ranks, U in exact integers,
    significance as a cross-multiplied DECIMAL(38,0) comparison."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.pettitt_changepoint(ev, "ts", "event_type")


def q_conv_tool_rules(spark, sf_dir):
    """Association rules over per-conversation tool baskets (support/
    confidence/lift, Agrawal-style pairs): which tools co-occur, and how
    much more than chance — integer micro-units, DECIMAL(38,0) for the
    lift numerator, so the oracle replays it bit-for-bit."""
    from log_analysis_spark.operators import itemsets

    tools = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    return itemsets.pair_association_rules(
        tools, "conv_id", "tool", min_pair_count=2
    )


def q_graph_error_route(spark, sf_dir):
    """Weighted shortest paths from the error-adjacent tool set over the
    transition graph, edge cost = 1 + (10^6 div transition count) — the
    most-travelled route to an error state, not merely the fewest hops
    (bfs_hops' metric cousin).  Bellman-Ford fixpoint on exact integers;
    the oracle unrolls the same rounds."""
    from pyspark.sql import Window

    seq = _parsed(spark, sf_dir).filter(F.col("tool") != "-")
    edges = windows_ops.transition_counts(seq, "conv_id", ["turn_idx"], "tool")
    weighted = edges.select(
        F.col("from_state").alias("src"),
        F.col("to_state").alias("dst"),
        (F.lit(1) + F.expr("CAST(1000000 div n AS BIGINT)")).alias("w"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = _parsed(spark, sf_dir).select(
        "tool", F.lead("turn_class").over(w).alias("next_class")
    )
    srcs = (
        nxt.filter((F.col("tool") != "-") & (F.col("next_class") == "error"))
        .select("tool")
        .distinct()
    )
    return graph.weighted_shortest_paths(
        weighted, srcs, max_rounds=8, directed=False
    )


def q_doc_token_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters over the corpus token stream (count > n/50)
    WITHOUT a full-cardinality shuffle: per-partition Misra-Gries
    candidates (<= k+1 rows/partition, no shuffle) then an exact recount
    restricted to the broadcast candidate set — the 100 TB alternative to
    vocabulary()'s full token groupBy when only the head matters."""
    toks = textstats.token_table(_docs(spark, sf_dir))
    return sketches.heavy_hitters(toks, "tok", k=50)


def q_events_time_weighted(spark, sf_dir):
    """Per-user time-weighted gauge mean (LOCF integration in exact micro
    units, DECIMAL(38,0) accumulators, integral-division result): the TSDB
    aggregate a plain avg() gets wrong on irregular samples."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.time_weighted_avg(ev, "ts", "user_id", "value", "event_id")


def q_events_gapfill(spark, sf_dir):
    """Dense hourly gauge per event type with LINEAR interpolation across
    unobserved hours — exact integral micro-units, truncating integral
    division shared by Spark (div) and DuckDB (//)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gauge = timeseries.hourly_gauge(ev, "ts", "event_type", "value")
    return timeseries.gapfill_linear(gauge)


def q_events_seasonal(spark, sf_dir):
    """Seasonal (hour-of-day) median/MAD anomaly cells per event type —
    3am judged against 3am history, robust center/scale, pure-integer
    doubled-median comparisons."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.seasonal_anomalies(ev, "ts", "event_type", n_mad=3)


def q_events_trend(spark, sf_dir):
    """Mann-Kendall monotonic trend + Theil-Sen slope per event type over
    the dense hourly spine — exact integer S statistic, tie-corrected
    variance, cross-multiplied continuity-corrected significance, doubled
    median of trunc-division pairwise slopes."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.trend_test(ev, "ts", "event_type")


def q_events_rank_compare(spark, sf_dir):
    """Mann-Whitney U between 'view' and 'click' values — doubled
    mid-ranks from VALUE CELLS, exact integer tie-corrected z² test."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.rank_compare(ev, "value", "event_type", "view", "click")


def q_events_ks_drift(spark, sf_dir):
    """Two-sample KS drift between 'purchase' and 'signup' value
    distributions — sup|F_a−F_b| as the exact integer max of cell-level
    cumulative cross-products, earliest attaining value reported."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.ks_test(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "signup"),
        "value",
    )


def q_events_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (user_id, event_type) quasi-identifier:
    equivalence classes a linkage attack can single out (size < 10)."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.k_anonymity_violations(
        ev, ["user_id", "event_type"], k=10
    )


def q_events_l_diversity(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007): (user, day)
    equivalence classes whose event-type mix shows fewer than 3 distinct
    values — classes k-anonymity passes but a homogeneity attack reads
    directly (~2.9k of 4k classes at sf0.01, so the gate bites).
    Two-phase count-distinct, narrow keys, NULL-diversity semantics shared
    with the oracle."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return expectations.l_diversity_violations(
        ev, ["user_id", "day"], "event_type", l=3
    )


def q_events_concurrency(spark, sf_dir):
    """Peak-concurrency sweep line over 30-min-gap user sessions: sessions
    collapse to intervals, each contributes (+1 start, −1 end), and the
    ordered running sum is the exact step function of simultaneously-open
    sessions — the capacity-planning number per-hour start counts can't
    give.  The sweep's global ordering runs over interval ENDPOINTS only
    (2 rows/session), the W4 single-partition-over-aggregates precedent.
    The oracle replays sessionize, the interval collapse and the tie-ruled
    running sum end to end."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = timeseries.session_intervals(
        ev, "ts", "user_id", gap_sec=1800, order_cols=["ts", "event_id"]
    )
    return timeseries.concurrency_timeline(iv)


def q_streaming_forecast_backtest(spark, sf_dir):
    """§2.9 streaming forecastability: hourly counts fold per micro-batch
    into the shared versioned state (the burst/CUSUM substrate), finished
    by the SAME backtest_from_counts as batch — the drained snapshot
    equals the batch oracle exactly."""
    import os
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_forecast_backtest,
    )

    work = tempfile.mkdtemp(prefix="bt_stream_")
    os.makedirs(f"{work}/src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/drop0.parquet")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    return run_stream_forecast_backtest(
        spark, f"{work}/src", f"{work}/state", "ts", "event_type", schema
    )


def q_streaming_psi_drift(spark, sf_dir):
    """§2.9 streaming distribution drift: the current sample's PSI cells
    fold per micro-batch (additive — boundary-independent) and the final
    read PSIs them against the frozen reference cells through the SAME
    psi_from_cells as batch, so the drained snapshot equals the batch
    purchase-vs-signup oracle exactly."""
    import os
    import tempfile

    from log_analysis_spark.operators import expectations
    from log_analysis_spark.streaming.sketch_stream import run_stream_psi_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="psi_stream_")
    os.makedirs(f"{work}/src")
    ev.filter(F.col("event_type") == "signup").coalesce(1).write.mode(
        "append"
    ).parquet(f"{work}/src")
    ref = expectations.psi_value_cells(
        ev.filter(F.col("event_type") == "purchase"), "value", 0.5, "ca"
    )
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    return run_stream_psi_drift(
        spark, f"{work}/src", f"{work}/state", "value", schema, ref, width=0.5
    )


def q_events_session_impact(spark, sf_dir):
    """INTERVAL × INTERVAL overlap join: which user sessions overlapped an
    anomalous (burst/drop) hour window — the blast-radius question
    point-in-interval joins can't ask because BOTH sides have extent.
    Both sides bucket-explode and hash-join on the hour; the oracle
    recomputes sessions, the burst windows and the brute-force overlap
    predicate with exact intersection spans."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    iv = timeseries.session_intervals(
        ev, "ts", "user_id", gap_sec=1800, order_cols=["ts", "event_id"]
    )
    sessions = iv.select(
        (F.col("user_id") * 100000 + F.col("sess_id")).alias("sid"),
        "start_ts",
        "end_ts",
    )
    anom = (
        timeseries.burst_hours(ev, "ts", "event_type", n_trail=24, z=3)
        .filter(F.col("anomaly").isNotNull())
        .select(
            F.concat_ws("#", "event_type", F.col("hour_id").cast("string")).alias(
                "rid"
            ),
            F.timestamp_seconds(F.col("hour_id") * 3600).alias("r_start_ts"),
            F.timestamp_seconds(F.col("hour_id") * 3600 + 3599).alias(
                "r_end_ts"
            ),
        )
    )
    return joins.interval_overlap_join(sessions, anom, "sid", "rid")


def q_events_percentile(spark, sf_dir):
    """Per-row percentile annotation ("this value sits at p98 of its
    type") from the bounded cell-CDF broadcast — the data is never
    re-shuffled for the annotation.  The oracle replays cells, CDF and
    the integral-division percentile per row."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sketches.with_percentile(
        ev, "value", resolution=0.25, group="event_type"
    ).select("event_id", "event_type", "value", "pct_micro")


def q_events_forecast_backtest(spark, sf_dir):
    """Forecastability report: persistence (lag 1) vs seasonal-naive
    (lag 24) MAE per event type over the dense hourly spine — which
    series are predictable, and at what period, before any model.  All
    lags from ONE window pass over spine cells; exact integer MAE; the
    oracle replays the spine, both lags and the integral division."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.seasonal_naive_backtest(ev, "ts", "event_type")


def q_logs_latency_quantiles(spark, sf_dir):
    """THE log-ops metric: p50/p95 duration per (action, hour) — the
    histogram-CDF quantile family over a COMPOSITE group key (no global
    sort, no per-row window; the CDF runs over occupied cells per band).
    Resolution 16 ms bounds the answer error; the oracle replays cells,
    per-band CDF and the ceil(q·n) read exactly."""
    p = _parsed(spark, sf_dir).filter(F.col("duration_ms").isNotNull())
    p = p.withColumn("hour", F.date_trunc("hour", F.col("ts")))
    return sketches.hist_quantiles(
        p, "duration_ms", [0.5, 0.95], resolution=16.0,
        group=["action", "hour"],
    )


def q_events_benford(spark, sf_dir):
    """Benford first-digit audit of the value column — the
    fabricated-data smell test.  First digits come from the decimal
    string of the micro-quantized INTEGER (no float log10 boundary
    wobble), expected mass is the shared literal micro table, shares are
    integral divisions — 9 rows, all exact.  The synthetic uniform
    values deviate grossly from Benford, which is exactly what the audit
    reports."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.benford_deviation(ev, "value")


def q_events_acf(spark, sf_dir):
    """Lag-1/lag-24 autocorrelation of the hourly count series per event
    type — exact integer ACF over dense spine cells; the diagnostic that
    validates seasonal_anomalies' period=24 assumption."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.autocorrelation(ev, "ts", "event_type", lags=(1, 24))


def q_events_active_users(spark, sf_dir):
    """Trailing-7-day distinct active users per day (the WAU curve) —
    exact, via distinct (user, day) presence and a bounded ×7 expand."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return timeseries.rolling_active_users(ev, "ts", "user_id", 7)


def q_events_burn_rate(spark, sf_dir):
    """Multi-window SLO burn-rate pages (6h AND 1h both over budget) for
    an 80% SLO on error events — integer cross-multiplied gates over the
    dense hour spine."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "is_err", F.col("event_type") == "error"
    )
    return timeseries.burn_rate_alerts(
        ev, "ts", "is_err", slo_milli=800, thr_milli=1000,
        long_h=6, short_h=1,
    )


def q_events_psi_drift(spark, sf_dir):
    """PSI between 'purchase' and 'signup' value distributions in
    width-0.5 bins — Laplace-smoothed micro-nat bin terms, one integral
    division; the weighted-bin complement of the KS sup test."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.psi_drift(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "signup"),
        "value",
        width=0.5,
    )


def q_streaming_active_users(spark, sf_dir):
    """§2.9 streaming WAU: the presence set folded through the versioned
    exactly-once state protocol, finished by the SAME
    active_users_from_presence as the batch path — drained snapshot
    equals the batch oracle exactly."""
    import os
    import shutil
    import tempfile

    from log_analysis_spark.streaming.sketch_stream import (
        run_stream_active_users,
    )

    work = tempfile.mkdtemp(prefix="wau_stream_")
    os.makedirs(f"{work}/src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/drop0.parquet")
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    return run_stream_active_users(
        spark, f"{work}/src", f"{work}/state", "ts", "user_id", schema,
        window_days=7,
    )


def q_events_chi2(spark, sf_dir):
    """Chi-square independence between event_type and day-quarter
    (hour div 6) — the empty-cell-free O²N/(RC)−N identity, per-cell
    micro truncation, dof emitted for the caller's critical value
    (here χ²₀.₀₅ at dof 12 = 21.026)."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    staged = ev.select(
        "event_type",
        F.floor(F.hour("ts") / 6).alias("day_q"),
    )
    return expectations.chi2_independence(
        staged, "event_type", "day_q", crit_micro=21_026_000
    )


def q_events_auc(spark, sf_dir):
    """Exact ROC AUC of `value` as a predictor of event_type='purchase' —
    the Mann-Whitney identity over value cells; the evaluation op the
    quality-classifier gates rely on."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    staged = ev.filter(F.col("event_type").isNotNull()).select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    return expectations.ranking_auc(staged, "score", "is_purchase")


def q_events_gini(spark, sf_dir):
    """Gini coefficient of per-user event concentration — the one-number
    skew audit, computed over count VALUE CELLS (no global row window)."""
    from log_analysis_spark.operators import expectations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return expectations.gini_concentration(ev, "user_id")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def _utc(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Pin the session timezone to UTC before analysis: timestamp-typed
    results (date_trunc, windows, epoch↔ISO) must hash identically to the
    UTC-naive DuckDB oracle regardless of the harness session's default."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return q_logs_overview(spark, "/root/testdata/sf0.001")


# The driver contract: EXACTLY 50 names, in driver order.  The driver's
# correctness window checks the first 50 insertion-order entries of
# queries(), so the contract is sized to get a driver row for every query
# (rounds 1-2 carried 51/56 entries and the tail went unchecked).  Every
# other q_* function is a retired query, verified by
# tools/check_oracle.py --retired.  Dropped vs round 2 (all still
# implemented + unit-tested; each §2 ID keeps an in-window green twin — see
# R3_NOTES.md):
#
#   * class_counts        — strict coarsening of logs_overview (A1)
#   * request_errors_flat — J4 flat twin of nested_errors
#   * cache_op_counts     — A2 twin of conditional_agg
#   * error_follows_tool  — W3 twin of adjacent_pairing
#   * doc_token_count     — n_tokens is a column of doc_quality's output
#   * doc_minhash_lsh     — no-oracle production twin of doc_minhash_lsh_md5
#   * doc_simhash         — no-oracle production twin of doc_simhash_md5
#   * doc_fingerprint     — no-oracle production twin of doc_fingerprint_md5
#   * enrich_roles/_tools — chained verbatim inside enrich_dims (J1+J2+F8)
#   * minmax_ts           — A6 extrema folded into conditional_agg's scan
#   * events_sessionize   — session_dedup composes the same sessionize
#                           machinery as its first stage
#
# ALL 50 have exact oracles.  embed_ivf_topk (rows-only in rounds 1-3) now
# probes a deterministic md5-seeded index whose build + assignment + probe
# the oracle recomputes end to end (its ANN approximation is vs exact
# top-k, not vs the oracle); the kmeans-built production index is the
# rows-only retired twin embed_ivf_topk_kmeans.
#
# Rotating a row in or out of the contract is moving its name into or out
# of this list; its q_* function and oracle stay where they are.
CONTRACT = [
    "transcripts",
    "parse_fields",
    "logs_overview",
    "route_counts",
    "enrich_dims",
    "hourly_rollup",
    "conv_counts_salted",
    "outliers",
    "unmatched_roles_anti",
    "full_outer_merge",
    "lookup_sentinel",
    "interval_join",
    "adjacent_pairing",
    "error_subclasses",
    "conditional_agg",
    "nested_errors",
    "pid_fanout",
    "lifecycle_merge",
    "streaming_conv_state",
    "streaming_dedup",
    "session_dedup",
    "conv_docs",
    "doc_exact_dedup",
    "doc_quality",
    "doc_langid",
    "doc_repetition",
    "corpus_pack",
    "corpus_sample",
    "doc_decontaminate",
    "doc_pii_scrub",
    "doc_ngram_jaccard",
    "doc_neardup_groups",
    "doc_dedup_kept",
    "doc_minhash_lsh_md5",
    "doc_simhash_md5",
    "doc_fingerprint_md5",
    "embed_cosine_topk",
    "embed_neardup",
    "embed_ivf_topk",
    "multimodal_features",
    # promoted from the retired suite in round 5, when ten long-stable
    # rows (scalar_funcs, union_by_name, distinct_codes, timing_stats,
    # pair_math, action_set_convs, duration_histogram, text_filters,
    # turn_ordering, req_resp_merge) were retired in their place
    "doc_bm25_topk",
    "events_asof",
    "doc_dup_span_clean",
    "embed_semdedup",
    "events_burst_hours",
    "doc_winnow",
    "doc_line_dedup",
    "corpus_report",
    "events_skew_join",
    "doc_quality_classifier",
]
assert len(set(CONTRACT)) == len(CONTRACT) == 50, (
    f"contract must stay exactly 50 distinct queries, got {len(CONTRACT)}"
)


def _query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_<name>`` function of this module, keyed by ``<name>``."""
    return {k[2:]: fn for k, fn in globals().items() if k.startswith("q_")}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    fns = _query_fns()
    return {name: _utc(fns[name]) for name in CONTRACT}


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries dropped from the 50-entry driver contract but still part of
    the engine's surface — tools/check_oracle.py --retired and
    tests/test_retired_contract.py keep them verified (the doc/simhash/
    minhash/fingerprint production twins are separately pair-set-equality
    tested against their in-contract md5 twins)."""
    return {
        name: _utc(fn) for name, fn in _query_fns().items() if name not in CONTRACT
    }


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _oracle_table().items() if k in CONTRACT}


def retired_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _oracle_table().items() if k not in CONTRACT}


# shared by conv_seq_integrity (batch) and streaming_seq_integrity (the
# additive-cells streaming twin) — one recompute, two execution paths
_SEQ_INTEGRITY_ORACLE = oracles.on_parsed("""
, cr AS (
  SELECT conv_id, turn_idx FROM parsed WHERE turn_idx % 13 <> 5
  UNION ALL
  SELECT conv_id, turn_idx FROM parsed WHERE turn_idx % 17 = 3
),
g AS (
  SELECT conv_id AS "group",
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_distinct_idx,
         CAST(min(turn_idx) AS BIGINT) AS min_idx,
         CAST(max(turn_idx) AS BIGINT) AS max_idx
  FROM cr GROUP BY conv_id
)
SELECT "group", n_rows, n_distinct_idx, min_idx, max_idx,
       CAST(max_idx - min_idx + 1 - n_distinct_idx AS BIGINT) AS n_missing,
       CAST(n_rows - n_distinct_idx AS BIGINT) AS n_dup_rows,
       (min_idx = 0 AND max_idx - min_idx + 1 = n_distinct_idx
        AND n_rows = n_distinct_idx) AS is_contiguous
FROM g""")


def _oracle_table() -> dict[str, str]:
    """Exact DuckDB oracle per query name, contract and retired alike.
    Queries without an entry (hash-seeded production twins of in-contract
    md5 queries) get the driver's rows-only check."""
    P = oracles.on_parsed
    T = oracles.on_transcripts
    return {
        "transcripts": T("SELECT * FROM transcripts"),
        "parse_fields": P(
            "SELECT conv_id, turn_idx, role, tool, ts, turn_class, http_code,"
            " attempt, code_ref, n_responses, duration_ms, action, cache_op,"
            " url_path, http_method, req_epoch, instance_id, pid FROM parsed"
        ),
        "logs_overview": P(
            "SELECT turn_class, http_code, count(*) AS n FROM parsed"
            " GROUP BY turn_class, http_code"
        ),
        "route_counts": P(
            f"SELECT {_SINK_TAG} AS sink, count(*) AS n FROM parsed GROUP BY 1"
        ),
        "enrich_dims": P(
            f"""SELECT p.conv_id, p.turn_idx,
                COALESCE(tr.role, p.role) AS role,
                rt.role_class, rt.is_human,
                CASE WHEN rt.role IS NULL
                     THEN 'Failed to locate matching record for ' || p.role
                     ELSE 'ok' END AS role_status,
                p.tool, tr.tool_kind, tr.tool_owner,
                CASE WHEN tr.tool IS NULL
                     THEN 'Failed to locate matching record for ' || p.tool
                     ELSE 'ok' END AS tool_status
                FROM parsed p
                LEFT JOIN ({ROLE_TAXONOMY_SQL}) rt ON p.role = rt.role
                LEFT JOIN ({TOOL_REGISTRY_SQL}) tr ON p.tool = tr.tool"""
        ),
        "hourly_rollup": P(
            "SELECT role, tool, date_trunc('hour', ts) AS hour, count(*) AS n"
            " FROM parsed GROUP BY role, tool, date_trunc('hour', ts)"
        ),
        "conv_counts_salted": P(
            "SELECT conv_id, count(*) AS n FROM parsed GROUP BY conv_id"
        ),
        "distinct_codes": P(
            "SELECT DISTINCT http_code FROM parsed WHERE http_code IS NOT NULL"
        ),
        "timing_stats": P(
            "SELECT action, count(*) AS n, CAST(median(duration_ms) AS DOUBLE) AS med_val,"
            " max(duration_ms) AS max_val FROM parsed WHERE duration_ms IS NOT NULL"
            " GROUP BY action"
        ),
        "action_set_convs": P(
            "SELECT conv_id, count(*) AS n FROM parsed WHERE action IS NOT NULL"
            " GROUP BY conv_id"
            " HAVING list_sort(list_distinct(list(action))) ="
            " ['CurlHandlePool::get', 'DmrppArray::read', 'TheBESKeys::TheKeys']"
        ),
        "duration_histogram": P(
            "SELECT action, CAST(floor(duration_ms / 500.0) AS BIGINT) AS bin,"
            " count(*) AS n FROM parsed WHERE duration_ms IS NOT NULL"
            " GROUP BY action, bin"
        ),
        "outliers": P(
            "SELECT conv_id, turn_idx, text FROM parsed"
            " WHERE turn_class NOT IN ('request', 'info', 'error', 'timing')"
        ),
        "text_filters": P(
            """SELECT 'substr' AS src, conv_id, turn_idx, code_ref AS val
               FROM parsed WHERE text LIKE '%BESUtil.cc:29%'
               UNION ALL
               SELECT 'regex' AS src, conv_id, turn_idx,
                      CAST(http_code AS STRING) AS val
               FROM parsed WHERE regexp_matches(text, 'HTTP code of 4[0-9][0-9]')"""
        ),
        "unmatched_roles_anti": P(
            f"""SELECT conv_id, turn_idx, role FROM parsed
                WHERE role NOT IN (SELECT role FROM ({ROLE_TAXONOMY_SQL}) rt)"""
        ),
        "req_resp_merge": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()}
            SELECT r.request_id, r.url_path, r.req_code,
                   s.http_response_code, s.attempt
            FROM request_log r LEFT JOIN response_log s USING (request_id)"""
        ),
        "full_outer_merge": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()}
            SELECT COALESCE(r.request_id, s.request_id) AS request_id,
                   r.url_path, r.req_code, s.http_response_code
            FROM request_log r FULL OUTER JOIN response_log s USING (request_id)"""
        ),
        "lookup_sentinel": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()},
            resp1 AS (
              SELECT * FROM (
                SELECT request_id, http_response_code,
                       row_number() OVER (PARTITION BY request_id ORDER BY resp_ts) AS rn
                FROM response_log
              ) WHERE rn = 1
            )
            SELECT r.request_id, r.req_code, s.http_response_code,
                   CASE WHEN s.request_id IS NULL
                        THEN 'Failed to locate matching record for ' || r.request_id
                        END AS error
            FROM request_log r LEFT JOIN resp1 s USING (request_id)"""
        ),
        "interval_join": P(
            """SELECT a.conv_id, a.turn_idx AS anchor_idx, o.turn_idx AS other_idx
               FROM parsed a JOIN parsed o
                 ON a.conv_id = o.conv_id
                AND a.turn_class = 'request' AND o.turn_class <> 'request'
                AND o.ts >= a.ts AND o.ts <= a.ts + INTERVAL 30 MINUTE"""
        ),
        "adjacent_pairing": P(
            """SELECT conv_id, turn_idx, n_responses, duration_ms, status_code FROM (
                 SELECT conv_id, turn_idx, turn_class, n_responses, duration_ms,
                        CASE WHEN lead(turn_class) OVER w = 'error'
                             THEN lead(http_code) OVER w ELSE 200 END AS status_code
                 FROM parsed
                 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
               ) WHERE turn_class = 'timing'"""
        ),
        "turn_ordering": P(
            """SELECT row_number() OVER (ORDER BY conv_id, turn_idx) AS rn,
                      conv_id, turn_idx, turn_class,
                      lag(turn_class) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_class
               FROM parsed"""
        ),
        "pair_math": P(
            """SELECT conv_id,
                      min_by(duration_ms, turn_idx) AS first_val,
                      max_by(duration_ms, turn_idx) AS last_val,
                      max_by(duration_ms, turn_idx) - min_by(duration_ms, turn_idx) AS span
               FROM parsed WHERE duration_ms IS NOT NULL GROUP BY conv_id"""
        ),
        "union_by_name": P(
            """SELECT conv_id, turn_idx, 'request' AS kind, http_code, url_path
               FROM parsed WHERE turn_class = 'request'
               UNION ALL BY NAME
               SELECT conv_id, turn_idx, 'error' AS kind, http_code
               FROM parsed WHERE turn_class = 'error'"""
        ),
        "scalar_funcs": P(
            """SELECT conv_id, turn_idx,
                      strftime(make_timestamp(req_epoch * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS iso_ts,
                      upper(role) AS role_uc,
                      lower(instance_id) AS inst_lc,
                      substring(url_path, 1, 11) AS path_prefix,
                      '2. ' || http_method AS tagged_method,
                      replace(url_path, '/hyrax/ngap', '/h/n') AS path_short,
                      string_split(url_path, '/')[3] AS path_seg,
                      CAST(floor(http_code / 100.0) AS INTEGER) AS code_class
               FROM parsed WHERE turn_class = 'request'"""
        ),
        "error_subclasses": P(
            """SELECT subclass, count(*) AS n FROM (
                 SELECT CASE WHEN http_code = 404 THEN 'not_found'
                             WHEN http_code = 500 THEN 'server_error'
                             WHEN http_code = 401 THEN 'auth'
                             ELSE 'other' END AS subclass
                 FROM parsed WHERE turn_class = 'error'
               ) GROUP BY ROLLUP(subclass)"""
        ),
        "conditional_agg": P(
            """SELECT count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns,
                      min(ts) AS min_ts, max(ts) AS max_ts,
                      CAST(sum(CASE WHEN http_code = 404 THEN 1 ELSE 0 END) AS BIGINT) AS n_404,
                      CAST(sum(CASE WHEN http_code = 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_500,
                      CAST(sum(CASE WHEN turn_class = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                      CAST(sum(CASE WHEN tool <> '-' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
                      CAST(sum(CASE WHEN url_path LIKE '/hyrax/ngap%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ngap
               FROM parsed"""
        ),
        "nested_errors": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()}
            SELECT r.request_id,
                   array_to_string(list_sort(list(
                     CASE WHEN e.http_code IS NOT NULL
                          THEN cast(e.turn_idx AS STRING) || ':' || cast(e.http_code AS STRING)
                     END)), ',') AS errs,
                   count(e.http_code) AS n_errs
            FROM request_log r LEFT JOIN parsed e
              ON r.conv_id = e.conv_id AND e.turn_class = 'error'
            GROUP BY r.request_id"""
        ),
        "pid_fanout": P(
            """SELECT pid, count(*) AS n, count(DISTINCT instance_id) AS n_instances
               FROM parsed WHERE turn_class = 'request' GROUP BY pid"""
        ),
        "lifecycle_merge": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()},
            resp1 AS (
              SELECT * FROM (
                SELECT request_id, http_response_code,
                       row_number() OVER (PARTITION BY request_id ORDER BY resp_ts) AS rn
                FROM response_log
              ) WHERE rn = 1
            ),
            merged AS (
              SELECT r.request_id, r.conv_id, r.url_path, r.req_code,
                     s.http_response_code,
                     CASE WHEN s.request_id IS NULL
                          THEN 'Failed to locate matching record for ' || r.request_id
                          END AS error
              FROM request_log r LEFT JOIN resp1 s USING (request_id)
            )
            SELECT m.request_id, m.url_path, m.req_code, m.http_response_code,
                   m.error,
                   array_to_string(list_sort(list(
                     CASE WHEN e.http_code IS NOT NULL
                          THEN cast(e.turn_idx AS STRING) || ':' || cast(e.http_code AS STRING)
                     END)), ',') AS bes
            FROM merged m LEFT JOIN parsed e
              ON m.conv_id = e.conv_id AND e.turn_class = 'error'
            GROUP BY m.request_id, m.url_path, m.req_code, m.http_response_code, m.error"""
        ),
        "streaming_dedup": P(
            """SELECT turn_class, count(*) AS n_unique FROM (
                 SELECT DISTINCT text, turn_class FROM parsed
               ) GROUP BY turn_class"""
        ),
        "streaming_conv_state": P(
            """SELECT conv_id, count(*) AS n_turns,
                      CAST(sum(CASE WHEN turn_class = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                      CAST(sum(CASE WHEN tool <> '-' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
                      max(turn_idx) AS max_turn_idx
               FROM parsed GROUP BY conv_id"""
        ),
        "session_dedup": _session_dedup_oracle(),
        "conv_docs": _conv_docs_oracle(),
        # mirrors exact_dedup's hash-keyed groupBy (md5 + length, never the
        # raw text) — result-identical to GROUP BY text absent md5+length
        # collisions
        "doc_exact_dedup": (
            "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents"
            " GROUP BY md5(text), length(text)"
        ),
        "doc_quality": _doc_quality_oracle(),
        "doc_langid": _langid_oracle(),
        "doc_repetition": _doc_repetition_oracle(),
        "corpus_pack": _corpus_pack_oracle(budget=2048),
        "corpus_sample": _corpus_sample_oracle({"en": 0.5, "zh": 0.25}),
        "doc_decontaminate": _decontaminate_oracle(n=5),
        "doc_pii_scrub": _pii_scrub_oracle(),
        "doc_ngram_jaccard": _ngram_jaccard_oracle(),
        "doc_neardup_groups": _neardup_groups_oracle(),
        "doc_dedup_kept": (
            _neardup_groups_oracle().rstrip()
            .replace(
                "SELECT id, min(r) AS rep_id FROM reach GROUP BY id",
                """SELECT d.doc_id, d.lang, d.n_chars
FROM documents d
JOIN (
  SELECT id FROM (SELECT id, min(r) AS rep_id FROM reach GROUP BY id)
  WHERE id = rep_id
) reps ON d.doc_id = reps.id""",
            )
        ),
        "doc_fingerprint_md5": (
            "SELECT doc_id, list_min([md5(substr(text, i, 16))"
            " FOR i IN range(1, greatest(length(text) - 15, 1) + 1)])"
            " AS fingerprint_md5 FROM documents"
        ),
        "doc_minhash_lsh_md5": _minhash_md5_oracle(),
        "doc_simhash_md5": _simhash_md5_oracle(),
        "embed_cosine_topk": _cosine_topk_oracle(),
        "embed_neardup": _embed_neardup_oracle(),
        # the mapInPandas extractor's md5 runs over the raw payload bytes ==
        # utf-8 text bytes (synth_media's encode); duckdb md5() hashes the
        # string's utf-8 bytes and octet_length(encode()) counts them
        "multimodal_features": """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS md5
FROM documents
""",
        "embed_ivf_topk": _ivf_topk_oracle(),
        "doc_bm25_topk": _bm25_oracle(k=5, k1=1.2, b=0.75),
        "events_asof": _ASOF_ORACLE,
        "doc_dup_span_clean": _dup_span_oracle(k=3, clean=True),
        "embed_semdedup": _semdedup_oracle(threshold=0.3, n_centroids=8),
        "events_burst_hours": _burst_hours_oracle(n=24, z=3),
        "doc_winnow": _winnow_oracle(k=16, w=8),
        "doc_line_dedup": _line_dedup_oracle(min_words=2),
        "corpus_report": _corpus_report_oracle(),
        "events_skew_join": """
SELECT e.event_id, e.user_id, e.event_type,
       'u' || CAST(e.user_id AS VARCHAR) AS utag
FROM events e JOIN (SELECT DISTINCT user_id FROM events) d USING (user_id)
""",
        "doc_quality_classifier": _quality_classifier_oracle(n_buckets=4096),
        "class_counts": P(
            "SELECT turn_class, count(*) AS n FROM parsed GROUP BY turn_class"
        ),
        "enrich_roles": P(
            f"""SELECT p.conv_id, p.turn_idx, p.role, rt.role_class, rt.is_human,
                CASE WHEN rt.role IS NULL
                     THEN 'Failed to locate matching record for ' || p.role
                     ELSE 'ok' END AS role_status
                FROM parsed p LEFT JOIN ({ROLE_TAXONOMY_SQL}) rt ON p.role = rt.role"""
        ),
        "enrich_tools": P(
            f"""SELECT p.conv_id, p.turn_idx, p.tool, tr.tool_kind, tr.tool_owner,
                COALESCE(tr.role, p.role) AS role,
                CASE WHEN tr.tool IS NULL
                     THEN 'Failed to locate matching record for ' || p.tool
                     ELSE 'ok' END AS tool_status
                FROM parsed p LEFT JOIN ({TOOL_REGISTRY_SQL}) tr ON p.tool = tr.tool"""
        ),
        "minmax_ts": P("SELECT min(ts) AS min_val, max(ts) AS max_val FROM parsed"),
        "events_sessionize": (
            """WITH g AS (
                 SELECT user_id, ts, event_id,
                        CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                             THEN 1 ELSE 0 END AS new_sess
                 FROM events
               ),
               s AS (
                 SELECT user_id,
                        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
                 FROM g
               )
               SELECT user_id, CAST(max(sess_id) + 1 AS BIGINT) AS n_sessions,
                      count(*) AS n_events
               FROM s GROUP BY user_id"""
        ),
        "request_errors_flat": P(
            f""", {_REQ_RESP_CTES.strip().lstrip()}
            SELECT r.request_id, e.turn_idx AS err_turn_idx, e.http_code AS err_code
            FROM request_log r JOIN parsed e
              ON r.conv_id = e.conv_id AND e.turn_class = 'error'"""
        ),
        "cache_op_counts": P(
            """SELECT cache_op, count(*) AS n, count(DISTINCT url_path) AS n_paths
               FROM parsed WHERE cache_op IS NOT NULL GROUP BY cache_op"""
        ),
        "error_follows_tool": P(
            """SELECT conv_id, turn_idx, tool FROM (
                 SELECT conv_id, turn_idx, tool,
                        lead(turn_class) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
                 FROM parsed
               ) WHERE tool <> '-' AND nxt = 'error'"""
        ),
        "count_distinct": P(
            "SELECT count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns FROM parsed"
        ),
        "substring_filter": P(
            "SELECT conv_id, turn_idx, code_ref FROM parsed"
            " WHERE text LIKE '%BESUtil.cc:29%'"
        ),
        "regex_filter": P(
            "SELECT http_code, count(*) AS n FROM parsed"
            " WHERE regexp_matches(text, 'HTTP code of 4[0-9][0-9]')"
            " GROUP BY http_code"
        ),
        "streaming_hourly": P(
            f"""SELECT date_trunc('hour', ts) AS hour, {_SINK_TAG} AS sink, role,
                       count(*) AS n
                FROM parsed GROUP BY 1, 2, 3"""
        ),
        "streaming_ss_join": P(
            """, tools AS (
  SELECT conv_id, turn_idx AS tool_turn_idx, tool, ts
  FROM parsed WHERE tool <> '-'
),
errs AS (
  SELECT conv_id, turn_idx AS err_turn_idx, ts AS e_ts
  FROM parsed WHERE turn_class = 'error'
)
SELECT t.conv_id, t.tool_turn_idx, t.tool, e.err_turn_idx
FROM tools t JOIN errs e ON e.conv_id = t.conv_id
 AND e.e_ts >= t.ts AND e.e_ts <= t.ts + INTERVAL 30 MINUTE"""
        ),
        "streaming_sessions": P(
            """, brk AS (
  SELECT conv_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS b
  FROM parsed
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
),
grp AS (
  SELECT conv_id, ts,
         sum(b) OVER (PARTITION BY conv_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM brk
)
SELECT conv_id, min(ts) AS session_start,
       max(ts) + INTERVAL 15 MINUTE AS session_end,
       count(*) AS n_turns
FROM grp GROUP BY conv_id, sid"""
        ),
        "events_interval_lookup": _interval_lookup_oracle(),
        "doc_token_count": (
            f"SELECT doc_id, len({_DOC_TOKENS}) AS n_tokens FROM documents"
        ),
        "corpus_temperature_mix": _temperature_mix_oracle(
            temperature=2.0, target_fraction=0.5
        ),
        "doc_dup_span_stats": _dup_span_oracle(k=3, clean=False),
        "embed_d4_prune": _d4_oracle(
            threshold=0.3, keep_fraction=0.5, n_centroids=8
        ),
        "embed_cluster_balanced": _cluster_balanced_oracle(
            cap_per_cluster=40, n_centroids=8
        ),
        "corpus_dsir_select": _dsir_select_oracle(k=100),
        "corpus_leakage_split": _leakage_split_oracle(eval_fraction=0.1),
        "corpus_vocabulary": _vocabulary_oracle(top_v=200),
        "doc_unigram_surprise": _UNIGRAM_SURPRISE_ORACLE,
        "doc_pareto_gate": _pareto_gate_oracle(n_buckets=4096, alpha=9.0),
        "doc_gopher_rules": _gopher_rules_oracle(min_stopwords=1),
        "doc_ppl_buckets": _ppl_buckets_oracle(n_buckets=3),
        "doc_strip_common_lines": _strip_common_lines_oracle(
            max_doc_frac=0.03, min_docs=2, min_words=2
        ),
        "embed_semantic_decontam": _semantic_decontam_oracle(threshold=0.3),
        "doc_decontaminate_bloom": _decontaminate_bloom_oracle(
            n=5, m_bits=1 << 20, n_hashes=4
        ),
        "doc_lev_neardup": _lev_neardup_oracle(max_dist=5),
        "doc_chunks": _chunks_oracle(max_tokens=24, overlap=6, min_tokens=1),
        "corpus_pack_sequences": _pack_sequences_oracle(seq_len=64),
        "corpus_pack_bylang": _pack_sequences_oracle(seq_len=64, order_col="lang"),
        "corpus_budget_mix": _budget_mix_oracle(
            {"en": 200000, "de": 400000, "zh": 400000}, budget=12_000
        ),
        "corpus_cap_group": _cap_group_oracle(group_col="lang", cap=100),
        "events_sliding": _sliding_oracle(window_sec=3600, slide_sec=900),
        "events_funnel": _funnel_oracle(FUNNEL_STEPS),
        "events_retention": _RETENTION_ORACLE,
        "events_kmv_distinct": _kmv_oracle(k=KMV_K),
        "events_kmv_setops": _kmv_setops_oracle(k=KMV_SETOPS_K),
        "events_cms_counts": _cms_oracle(depth=CMS_DEPTH, width=CMS_WIDTH),
        "events_quantiles": _hist_quantiles_oracle(
            qs=QUANTILE_QS, resolution=QUANTILE_RES
        ),
        "streaming_quantiles": _hist_quantiles_oracle(
            qs=QUANTILE_QS, resolution=QUANTILE_RES
        ),
        "events_rolling": _rolling_oracle(n=ROLLING_N),
        "events_bloom_join": _BLOOM_JOIN_ORACLE,
        "events_funnel_times": _funnel_times_oracle(FUNNEL_STEPS),
        "events_ohlc": """
SELECT event_type,
       to_timestamp((CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400))
         AS bucket_start,
       struct_extract(min(ROW(ts, event_id, value)), 3) AS open,
       max(value) AS high, min(value) AS low,
       struct_extract(max(ROW(ts, event_id, value)), 3) AS close,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
        "events_profile": _PROFILE_ORACLE,
        "events_anomalies": f"""
WITH h AS (
  SELECT event_type, CAST(floor(value * {1.0 / QUANTILE_RES}) AS BIGINT)
           AS cell, count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cell,
         sum(c) OVER (PARTITION BY event_type ORDER BY cell) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
thr AS (
  SELECT event_type, min(cell) * {QUANTILE_RES} AS t
  FROM cum WHERE cum >= ceil(0.99 * n) GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN thr USING (event_type)
WHERE e.value > thr.t
""",
        "events_expectations": _EXPECTATIONS_ORACLE,
        "turn_transitions": P(
            """SELECT from_state, to_state, count(*) AS n FROM (
                 SELECT lag(turn_class) OVER (PARTITION BY conv_id
                                              ORDER BY turn_idx) AS from_state,
                        turn_class AS to_state
                 FROM parsed
               ) WHERE from_state IS NOT NULL GROUP BY from_state, to_state"""
        ),
        "graph_tool_pagerank": _pagerank_oracle(),
        "graph_tool_overlap": oracles.on_parsed("""
, seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges AS (
  SELECT prev AS src, tool AS dst FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
und AS (
  SELECT src AS node, dst AS nb FROM edges WHERE src <> dst
  UNION
  SELECT dst AS node, src AS nb FROM edges WHERE src <> dst
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
common AS (
  SELECT l.node AS node_a, r.node AS node_b, CAST(count(*) AS BIGINT) AS n_common
  FROM und l JOIN und r ON l.nb = r.nb AND l.node < r.node
  GROUP BY 1, 2
)
SELECT node_a, node_b, n_common,
       CAST((1000000 * n_common) // (da.d + db.d - n_common) AS BIGINT)
         AS jaccard_micro
FROM common
JOIN deg da ON da.node = node_a
JOIN deg db ON db.node = node_b"""),
        "graph_tool_communities": _lpa_oracle(n_iters=4),
        "graph_tool_triangles": _triangles_oracle(),
        "graph_tool_k_core": _k_core_oracle(k=2),
        "doc_url_blocklist": _url_blocklist_oracle(),
        "doc_url_domains": _url_domains_oracle(),
        "events_hll_distinct": _hll_oracle(p=HLL_P),
        "streaming_burst_hours": _burst_hours_oracle(n=24, z=3),
        "streaming_cusum_drift": _cusum_oracle(k_milli=300, h_mult=2),
        "streaming_rate_limit": """
SELECT event_id, key, hour_id FROM (
  SELECT event_id, CAST(event_type AS VARCHAR) AS key,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         row_number() OVER (
           PARTITION BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
) WHERE rn <= 2""",
        "customer_fuzzy_match": _fuzzy_match_oracle(threshold=800_000),
        "events_incidents": _incidents_oracle(n=24, z=3),
        "events_cusum_drift": _cusum_oracle(k_milli=300, h_mult=2),
        "events_changepoint": _pettitt_oracle(),
        "conv_tool_rules": _tool_rules_oracle(min_pair_count=2),
        "graph_error_route": _weighted_sp_oracle(max_rounds=8),
        "doc_token_heavy_hitters": _heavy_hitters_oracle(k=50),
        "events_time_weighted": _TIME_WEIGHTED_ORACLE,
        "events_gapfill": _GAPFILL_ORACLE,
        "events_seasonal": _seasonal_oracle(n_mad=3, period=24),
        "events_trend": _trend_oracle(z_milli=1960),
        "events_rank_compare": _rank_compare_oracle(
            "view", "click", z_milli=1960
        ),
        "events_ks_drift": _KS_DRIFT_ORACLE,
        "events_chi2": _CHI2_ORACLE,
        "events_auc": _AUC_ORACLE,
        "events_gini": _GINI_ORACLE,
        "events_acf": _ACF_ORACLE,
        "events_active_users": _ACTIVE_USERS_ORACLE,
        "events_burn_rate": _BURN_RATE_ORACLE,
        "events_psi_drift": _PSI_ORACLE,
        "streaming_psi_drift": _PSI_ORACLE,
        "events_session_impact": _session_impact_oracle(),
        "streaming_active_users": _ACTIVE_USERS_ORACLE,
        "events_k_anonymity": (
            "SELECT user_id, event_type, count(*) AS group_n "
            "FROM events GROUP BY 1, 2 HAVING count(*) < 10"
        ),
        "events_benford": _benford_oracle(),
        "corpus_diversity": _diversity_oracle(ns=(1, 2, 3)),
        "doc_lang_margin": _lang_margin_oracle(),
        "doc_classifier_calibration": (
            _classifier_ctes(4096, "lang = 'en'")
            + """
SELECT CAST(floor(CAST(round(mean_logodds * 1000000) AS BIGINT)
                  / 10000.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_target,
       CAST((1000000 * sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS rate_micro
FROM docscores JOIN documents d USING (doc_id)
GROUP BY 1
"""
        ),
        "streaming_forecast_backtest": _FORECAST_BACKTEST_ORACLE,
        "events_forecast_backtest": _FORECAST_BACKTEST_ORACLE,
        "events_percentile": """
WITH cells AS (
  SELECT event_type, CAST(floor(value * 4.0) AS BIGINT) AS cell,
         count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cdf AS (
  SELECT event_type, cell,
         CAST((1000000 * sum(c) OVER (PARTITION BY event_type ORDER BY cell))
              // (sum(c) OVER (PARTITION BY event_type)) AS BIGINT) AS pct
  FROM cells
)
SELECT e.event_id, e.event_type, e.value, cdf.pct AS pct_micro
FROM events e
LEFT JOIN cdf ON cdf.event_type = e.event_type
             AND cdf.cell = CAST(floor(e.value * 4.0) AS BIGINT)""",

        "logs_latency_quantiles": oracles.on_parsed(f"""
, h AS (
  SELECT action, date_trunc('hour', ts) AS hour,
         CAST(floor(duration_ms * {1.0 / 16.0!r}) AS BIGINT) AS cell,
         count(*) AS c
  FROM parsed WHERE duration_ms IS NOT NULL GROUP BY 1, 2, 3
),
cum AS (
  SELECT action, hour, cell,
         sum(c) OVER (PARTITION BY action, hour ORDER BY cell) AS cum,
         sum(c) OVER (PARTITION BY action, hour) AS n
  FROM h
),
qs(q) AS (VALUES (0.5), (0.95))
SELECT action, hour, q, min(cell) * {16.0!r} AS value
FROM cum, qs WHERE cum >= ceil(q * n) GROUP BY action, hour, q"""),
        "events_concurrency": """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
),
iv AS (
  SELECT user_id, sess_id, min(ts) AS s_ts, max(ts) AS e_ts
  FROM s GROUP BY 1, 2
),
pts AS (
  SELECT s_ts AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT e_ts AS ts, -1 AS delta FROM iv
)
SELECT ts, CAST(delta AS INTEGER) AS delta,
       CAST(sum(delta) OVER (ORDER BY ts ASC, delta DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS concurrency
FROM pts""",
        "events_l_diversity": (
            "SELECT user_id, date_trunc('day', ts) AS day, "
            "count(*) AS group_n, "
            "CAST(count(DISTINCT event_type) AS BIGINT) AS n_sensitive "
            "FROM events GROUP BY 1, 2 "
            "HAVING count(DISTINCT event_type) < 3"
        ),
        "doc_phrase_search": _phrase_search_oracle(["the", "data"]),
        "events_winsorized": _winsorize_oracle(
            p_lo=0.05, p_hi=0.95, resolution=0.25
        ),
        "routed_rows_fingerprint": P(f"""
, rows_fp AS (
  SELECT md5(concat_ws(chr(30),
    CASE WHEN CAST(conv_id AS VARCHAR) IS NULL THEN chr(0) || 'N'
         ELSE length(CAST(conv_id AS VARCHAR))::VARCHAR || ':'
              || CAST(conv_id AS VARCHAR) END,
    CASE WHEN CAST(text AS VARCHAR) IS NULL THEN chr(0) || 'N'
         ELSE length(CAST(text AS VARCHAR))::VARCHAR || ':'
              || CAST(text AS VARCHAR) END,
    CASE WHEN CAST(turn_idx AS VARCHAR) IS NULL THEN chr(0) || 'N'
         ELSE length(CAST(turn_idx AS VARCHAR))::VARCHAR || ':'
              || CAST(turn_idx AS VARCHAR) END
  )) AS h
  FROM parsed WHERE turn_class = 'error'
)
SELECT count(*) AS n_rows,
       CAST(sum(CAST({_hex14_sql('h')} AS HUGEINT)) AS VARCHAR)
         AS fingerprint
FROM rows_fp"""),
        "conv_tool_paths": P("""
, t AS (SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'),
l AS (
  SELECT tool AS s0, lead(tool, 1) OVER w AS s1, lead(tool, 2) OVER w AS s2
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT s0 || ' -> ' || s1 || ' -> ' || s2 AS path, count(*) AS n
FROM l WHERE s2 IS NOT NULL GROUP BY 1"""),
        "events_entropy": """
WITH stacked AS (
  SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS val
  FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
),
counts AS (
  SELECT "column", val, count(*) AS c FROM stacked GROUP BY 1, 2
),
per AS (
  SELECT "column", sum(c) AS n, count(*) AS nd,
         sum(CAST(c AS HUGEINT)
             * CAST(round(ln(c) * 1000000) AS HUGEINT)) AS sclc
  FROM counts GROUP BY 1
)
SELECT "column", CAST(n AS BIGINT) AS n, CAST(nd AS BIGINT) AS n_distinct,
       CAST(CAST(round(ln(n) * 1000000) AS BIGINT) - sclc // n AS BIGINT)
         AS entropy_micro_nats
FROM per""",
        "timing_correlation": P("""
, q AS (
  SELECT CAST(round(CAST(n_responses AS DOUBLE) * 1000000) AS HUGEINT) AS x,
         CAST(round(CAST(duration_ms AS DOUBLE) * 1000000) AS HUGEINT) AS y
  FROM parsed
  WHERE turn_class = 'timing'
    AND n_responses IS NOT NULL AND duration_ms IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM q
)
SELECT CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(round(1000000 * CAST(n * sxy - sx * sy AS DOUBLE)
              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
       END AS r_micro
FROM s"""),
        "embed_outliers": _centroid_outliers_oracle(
            n_centroids=8, max_cos_micro=80_000
        ),
        "doc_badwords": f"""
WITH tk AS (
  SELECT doc_id,
         list_filter({_DOC_TOKENS}, t -> t <> '') AS tks
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(tks,
         t -> list_contains(['vector', 'garbled'], lower(t)))) AS INT)
         AS n_badwords
FROM tk
WHERE len(list_filter(tks,
      t -> list_contains(['vector', 'garbled'], lower(t)))) > 0""",
        "doc_readability": f"""
WITH tk AS (
  SELECT doc_id,
         list_filter({_DOC_TOKENS}, t -> t <> '') AS tks,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s
  FROM documents
),
agg AS (
  SELECT doc_id, s,
         CAST(len(tks) AS BIGINT) AS w,
         CAST(COALESCE(list_sum(list_transform(tks,
           t -> greatest(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))),
           0) AS BIGINT) AS syl
  FROM tk
)
SELECT doc_id, w AS n_words, s AS n_sentences, syl AS n_syllables,
       CAST(CASE WHEN w > 0
            THEN 206835 - (1015 * w) // s - (84600 * syl) // w END AS BIGINT)
         AS flesch_milli,
       CAST(CASE WHEN w > 0
            THEN (390 * w) // s + (11800 * syl) // w - 15590 END AS BIGINT)
         AS fk_grade_milli
FROM agg""",
        "doc_hybrid_search": _hybrid_oracle(k_each=20, k=5, k0=60, k1=1.2, b=0.75),
        "embed_cluster_psi": _cluster_psi_oracle(n_centroids=8),
        "doc_loop_detection": f"""
WITH tk AS (
  SELECT doc_id, list_filter({_DOC_TOKENS}, t -> t <> '') AS tks
  FROM documents
),
tok AS (
  SELECT doc_id, u.t.tok AS tok, u.t.pos AS pos
  FROM tk,
       unnest(list_transform(tks, (x, i) -> {{'tok': x, 'pos': i}})) AS u(t)
),
m AS (
  SELECT a.doc_id, p.p, a.pos
  FROM tok a
  JOIN (SELECT unnest(range(1, 9)) AS p) p ON true
  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos - p.p
            AND b.tok = a.tok
),
runs AS (
  SELECT doc_id, p, count(*) AS mm
  FROM (SELECT doc_id, p, pos,
               pos - row_number() OVER (PARTITION BY doc_id, p
                                        ORDER BY pos) AS g
        FROM m)
  GROUP BY doc_id, p, g
),
best_m AS (SELECT doc_id, p, max(mm) AS mm FROM runs GROUP BY 1, 2),
cand AS (
  SELECT doc_id, p,
         CASE WHEN mm >= p THEN mm + p ELSE 0 END AS lt
  FROM best_m
),
pick AS (
  SELECT doc_id, p, lt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY lt DESC, p ASC) AS rk
  FROM cand
)
SELECT tk.doc_id,
       CAST(len(tks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(CASE WHEN s.lt > 0 THEN s.p END, 0) AS INTEGER)
         AS best_period,
       CAST(COALESCE(s.lt, 0) AS BIGINT) AS loop_tokens,
       CAST(CASE WHEN len(tks) > 0
            THEN (1000000 * COALESCE(s.lt, 0)) // len(tks)
            ELSE 0 END AS BIGINT) AS loop_frac_micro
FROM tk LEFT JOIN (SELECT * FROM pick WHERE rk = 1) s USING (doc_id)""",
        "embed_mmr": _mmr_oracle(n_cand=20, k=5, lam=700_000),
        "events_attribution": """
WITH conv AS (
  SELECT user_id, event_id AS conv_event_id, ts AS cts
  FROM events WHERE event_type = 'purchase'
),
tch AS (
  SELECT user_id, event_id AS touch_event_id, event_type AS touch_type,
         ts AS tts
  FROM events WHERE event_type IN ('click', 'view')
),
j AS (
  SELECT c.user_id, c.conv_event_id, t.touch_event_id, t.touch_type, t.tts
  FROM conv c JOIN tch t
    ON c.user_id = t.user_id
   AND t.tts BETWEEN c.cts - INTERVAL 24 HOUR AND c.cts
),
r AS (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY conv_event_id) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY conv_event_id
                            ORDER BY tts DESC, touch_event_id DESC) AS rk
  FROM j
)
SELECT user_id, conv_event_id, touch_event_id, touch_type,
       n AS n_touches,
       CAST(CASE WHEN rk = 1 THEN 1000000 ELSE 0 END AS BIGINT)
         AS credit_last_micro,
       CAST(CASE WHEN rk = n THEN 1000000 ELSE 0 END AS BIGINT)
         AS credit_first_micro,
       CAST(1000000 // n AS BIGINT) AS credit_linear_micro
FROM r
UNION ALL
SELECT c.user_id, c.conv_event_id, NULL, NULL,
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(0 AS BIGINT)
FROM conv c ANTI JOIN j ON j.conv_event_id = c.conv_event_id""",
        "doc_containment": f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         '{_WRAP_PREFIX}' || text || '{_WRAP_SUFFIX}'
  FROM documents WHERE doc_id % 10 = 0
),
doc_sh AS (
  SELECT doc_id AS id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS sh
  FROM (SELECT doc_id,
               string_split_regex(trim(text), '[^\\w'']+') AS toks
        FROM aug)
  WHERE len(toks) >= 3
),
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
         CAST(len(a.sh) AS BIGINT) AS sa,
         CAST(len(b.sh) AS BIGINT) AS sb
  FROM doc_sh a JOIN doc_sh b ON a.id < b.id
)
SELECT id_a, id_b, n_common,
       CAST((1000000 * n_common) // sa AS BIGINT) AS cont_a_micro,
       CAST((1000000 * n_common) // sb AS BIGINT) AS cont_b_micro
FROM scored
WHERE 1000000 * n_common >= 900000 * sa
   OR 1000000 * n_common >= 900000 * sb""",
        "doc_softdedup": """
WITH g AS (
  SELECT md5(text) AS h, length(text) AS l, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
)
SELECT d.doc_id, c AS n_copies, CAST(1000000 // c AS BIGINT) AS weight_micro
FROM documents d JOIN g ON md5(d.text) = g.h AND length(d.text) = g.l""",
        "log_templates": _templates_oracle(),
        "log_rare_templates": _rare_templates_oracle(min_lines=200),
        "logs_path_rollup": oracles.on_parsed("""
, segs AS (
  SELECT list_filter(string_split(url_path, '/'), s -> s <> '') AS sg
  FROM parsed WHERE url_path IS NOT NULL
),
pref AS (
  SELECT unnest(generate_series(1, least(len(sg), 4))) AS depth, sg
  FROM segs
)
SELECT CAST(depth AS INT) AS depth,
       '/' || array_to_string(sg[1:depth], '/') AS prefix,
       count(*) AS n
FROM pref GROUP BY 1, 2"""),
        "graph_error_distance": _bfs_hops_oracle(max_hops=4),
        "conv_response_latency": oracles.on_parsed("""
, lagged AS (
  SELECT conv_id, role, epoch_us(ts) AS us,
         lag(role) OVER w AS prev_role,
         lag(epoch_us(ts)) OVER w AS prev_us
  FROM parsed
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
resp AS (
  SELECT conv_id, us - prev_us AS lat_us
  FROM lagged WHERE role = 'assistant' AND prev_role = 'user'
)
SELECT conv_id, count(*) AS n_responses,
       max(lat_us) AS max_lat_us,
       median(lat_us) AS med_lat_us
FROM resp GROUP BY conv_id"""),
        "doc_dedup_best": (
            _neardup_groups_oracle().rstrip()
            .replace(
                "SELECT id, min(r) AS rep_id FROM reach GROUP BY id",
                """SELECT doc_id, lang, n_chars FROM (
  SELECT d.doc_id, d.lang, d.n_chars,
         row_number() OVER (
           PARTITION BY g.rep_id ORDER BY d.n_chars DESC, d.doc_id
         ) AS rn
  FROM documents d
  JOIN (SELECT id, min(r) AS rep_id FROM reach GROUP BY id) g
    ON d.doc_id = g.id
) WHERE rn = 1""",
            )
        ),
        "doc_strip_markup": _strip_markup_oracle(),
        "doc_normalize_unicode": _normalize_oracle(),
        "doc_fuzzy_decontam": _fuzzy_decontam_oracle(threshold=0.2),
        "corpus_vocab_drift": _vocab_drift_oracle(top_k=200, min_total=5),
        # the streaming twin folds the SAME snapshots through additive
        # token counts + the shared finisher — one oracle serves both
        "streaming_vocab_drift": _vocab_drift_oracle(top_k=200, min_total=5),
        "events_robust_outliers": _robust_outliers_oracle(
            resolution=0.01, k_milli=3500
        ),
        "doc_lexical_diversity": f"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter({_DOC_TOKENS}, x -> x <> ''),
                        x -> lower(x)) AS toks
  FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       CASE WHEN len(toks) > 0
            THEN CAST((1000000 * len(list_distinct(toks))) // len(toks)
                      AS BIGINT)
            ELSE 0 END AS ttr_micro
FROM t""",
        "orders_join_size": _join_size_oracle(
            ("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
            mod=256, keep=32, hh_k=64,
        ),
        "events_join_size": _join_size_oracle(
            ("events", "user_id"), ("events", "user_id"),
            mod=256, keep=32, hh_k=128,
        ),
        "conv_seq_integrity": _SEQ_INTEGRITY_ORACLE,
        # the streaming twin folds the SAME corrupted stream through
        # additive cells + the shared finisher — one oracle serves both
        "streaming_seq_integrity": _SEQ_INTEGRITY_ORACLE,
        "turn_class_cube": oracles.on_parsed("""
SELECT turn_class, role,
       CAST(2 * GROUPING(turn_class) + GROUPING(role) AS BIGINT) AS grouping_id,
       CAST(count(*) AS BIGINT) AS n
FROM parsed GROUP BY CUBE (turn_class, role)"""),
        "role_class_pivot": oracles.on_parsed("""
SELECT role,
       CAST(count(*) FILTER (WHERE turn_class = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (WHERE turn_class = 'info') AS BIGINT) AS n_info,
       CAST(count(*) FILTER (WHERE turn_class = 'request') AS BIGINT) AS n_request,
       CAST(count(*) FILTER (WHERE turn_class = 'timing') AS BIGINT) AS n_timing,
       CAST(count(*) FILTER (WHERE turn_class = 'unknown') AS BIGINT) AS n_unknown
FROM parsed GROUP BY role"""),
        "doc_tfidf_top": _tfidf_oracle(m=3),
        "corpus_shard_assign": """
WITH sh AS (
  SELECT unnest(['shard-a', 'shard-b', 'shard-c', 'shard-d']) AS s
),
h AS (
  SELECT d.doc_id, sh.s,
         md5(sh.s || ':' || CAST(d.doc_id AS VARCHAR)) AS hv
  FROM documents d CROSS JOIN sh
),
r AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s DESC) AS rn
  FROM h
)
SELECT doc_id, s AS shard FROM r WHERE rn = 1
""",
        "corpus_overlap_matrix": _overlap_matrix_oracle(threshold=0.2),
        "doc_bigram_surprise": _bigram_surprise_oracle(lam=BIGRAM_LAM),
        "corpus_snapshot_diff": _SNAPSHOT_DIFF_ORACLE,
        "corpus_weighted_sample": _weighted_sample_oracle(k=100),
        "embed_hard_negatives": _hard_negatives_oracle(k=3),
        "embed_quantized_topk": _quantized_topk_oracle(k=3),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_REQ_RESP_CTES = """
request_log AS (
  SELECT conv_id || ':' || cast(turn_idx AS STRING) AS request_id,
         conv_id, turn_idx AS req_turn_idx, url_path, http_method,
         http_code AS req_code, instance_id, pid, ts AS req_ts
  FROM parsed WHERE turn_class = 'request'
),
response_log AS (
  SELECT conv_id || ':' || cast(turn_idx - 1 AS STRING) AS request_id,
         http_code AS http_response_code, attempt, code_ref, ts AS resp_ts
  FROM parsed WHERE turn_class = 'error'
)
"""

_SINK_TAG = """
CASE WHEN turn_class = 'error' THEN 'errors'
     WHEN tool <> '-' THEN 'tool_calls'
     WHEN turn_class = 'request' THEN 'requests'
     WHEN turn_class = 'info' THEN 'info'
     WHEN role = 'user' THEN 'human'
     ELSE 'other' END
"""

_DOC_TOKENS = "string_split_regex(trim(text), '[^\\w'']+')"

_LANG_HITS = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "de", "et"],
    "zh": ["的", "了", "是", "在"],
}


def _langid_oracle() -> str:
    hit_cols = ",\n".join(
        "len(list_filter(toks, x -> x IN ({words}))) AS h_{lang}".format(
            words=", ".join(f"'{w}'" for w in ws), lang=lang
        )
        for lang, ws in _LANG_HITS.items()
    )
    # argmax with Spark's array_max tie-break: among equal hit counts the
    # lexicographically LARGEST language code wins → check in desc order.
    langs_desc = sorted(_LANG_HITS, reverse=True)
    cases = []
    for i, lang in enumerate(langs_desc):
        others = [f"h_{lang} >= h_{o}" for o in langs_desc if o != lang]
        cases.append(
            "WHEN " + " AND ".join([f"h_{lang} > 0"] + others) + f" THEN '{lang}'"
        )
    case_sql = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
WITH tk AS (
  SELECT lang, list_transform({_DOC_TOKENS}, x -> lower(x)) AS toks FROM documents
),
hits AS (
  SELECT lang, {hit_cols} FROM tk
),
pred AS (
  SELECT lang, {case_sql} AS lang_pred FROM hits
)
SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY lang, lang_pred
"""


_DOC_SHINGLES_2 = """
doc_sh AS (
  SELECT doc_id AS id,
         list_distinct([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS sh
  FROM (SELECT doc_id, {toks} AS toks FROM documents)
  WHERE len(toks) >= 2
)
""".format(toks=_DOC_TOKENS)

_UNIT_VEC = """
unitv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS unit
  FROM (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
  )
  WHERE nrm > 0
)
"""


def _doc_quality_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in _LANG_HITS["en"])
    return f"""
WITH base AS (
  SELECT doc_id, text, {_DOC_TOKENS} AS toks,
         length(text) AS n_char,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN (n_char - (len(toks) - 1)) / len(toks) ELSE 0.0 END AS mean_token_len,
         CASE WHEN n_char > 0 THEN CAST(n_punct AS DOUBLE) / n_char ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> lower(x) IN ({stop}))) AS DOUBLE) / len(toks)
              ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_tokens,
       round(mean_token_len, 6) AS mean_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(least(n_tokens / 64.0, 1.0) * 0.4
             + (1 - least(punct_ratio * 4, 1.0)) * 0.3
             + least(stopword_ratio * 5, 1.0) * 0.3, 6) AS quality_score
FROM feat
"""


def _doc_repetition_oracle() -> str:
    """Mirror of corpus.repetition_stats: trimmed non-empty '\\n'-lines,
    non-empty-token word 2-grams, top gram by (count DESC, gram ASC),
    thresholds from corpus.DEFAULT_REPETITION_THRESHOLDS."""
    from log_analysis_spark.operators.corpus import DEFAULT_REPETITION_THRESHOLDS as T

    return f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines,
         list_filter({_DOC_TOKENS}, x -> x <> '') AS toks
  FROM documents
),
line_tbl AS (SELECT doc_id, unnest(lines) AS line FROM base),
per_line AS (
  SELECT doc_id, line, count(*) AS cnt, length(line) AS chars
  FROM line_tbl GROUP BY doc_id, line
),
line_stats AS (
  SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct,
         sum(cnt * chars) AS line_chars,
         sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS dup_chars
  FROM per_line GROUP BY doc_id
),
gram_tbl AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM base
),
per_gram AS (SELECT doc_id, gram, count(*) AS cnt FROM gram_tbl GROUP BY doc_id, gram),
top_gram AS (
  SELECT doc_id, gram, cnt FROM (
    SELECT doc_id, gram, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
    FROM per_gram
  ) WHERE rn = 1
),
feat AS (
  SELECT b.doc_id,
         CAST(COALESCE(ls.n_lines, 0) AS BIGINT) AS n_lines,
         CASE WHEN COALESCE(ls.n_lines, 0) > 0
              THEN 1.0 - CAST(ls.n_distinct AS DOUBLE) / ls.n_lines
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN COALESCE(ls.line_chars, 0) > 0
              THEN CAST(ls.dup_chars AS DOUBLE) / ls.line_chars
              ELSE 0.0 END AS dup_line_char_frac,
         tg.gram AS top_2gram,
         CASE WHEN tg.gram IS NOT NULL AND b.n_chars > 0
              THEN CAST(tg.cnt AS DOUBLE) * length(tg.gram) / b.n_chars
              ELSE 0.0 END AS top_2gram_char_frac
  FROM base b
  LEFT JOIN line_stats ls ON b.doc_id = ls.doc_id
  LEFT JOIN top_gram tg ON b.doc_id = tg.doc_id
)
SELECT doc_id, n_lines,
       round(dup_line_frac, 6) AS dup_line_frac,
       round(dup_line_char_frac, 6) AS dup_line_char_frac,
       top_2gram,
       round(top_2gram_char_frac, 6) AS top_2gram_char_frac,
       (dup_line_frac <= {T['dup_line_frac']}
        AND dup_line_char_frac <= {T['dup_line_char_frac']}
        AND top_2gram_char_frac <= {T['top_2gram_char_frac']}) AS keep_repetition
FROM feat
"""


def _corpus_pack_oracle(budget: int) -> str:
    """Mirror of corpus.pack_shards as ONE global window cumsum — no
    bucketing structure leaked, so a hash match proves the Spark side's
    two-phase decomposition equals the straight sequential packing."""
    return f"""
SELECT doc_id, n_tokens, pack_key,
       CAST(floor(c / {budget}.0) AS BIGINT) AS shard
FROM (
  SELECT doc_id, n_tokens, pack_key,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY pack_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c
  FROM (
    SELECT doc_id,
           len(list_filter({_DOC_TOKENS}, x -> x <> '')) AS n_tokens,
           md5(CAST(doc_id AS STRING)) AS pack_key
    FROM documents
  )
)
"""


def _u16_sql(id_expr: str = "doc_id") -> str:
    """Leading 16 bits of md5(id) as an integer in [0, 65536) — the
    engine-portable uniform draw shared by stratified_sample and
    temperature_mix (strpos-decoded hex nibbles)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST({id_expr} AS STRING)), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )


def _u32_sql(expr: str) -> str:
    """Leading 32 bits of md5(expr) as an integer — the feature-hashing
    counterpart of _u16_sql, mirroring textstats._hash_bucket's
    conv(substr(md5, 1, 8), 16, 10)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )


def _quality_classifier_oracle(n_buckets: int, target_sql: str = "lang = 'en'") -> str:
    """Independent recompute of q_doc_quality_classifier: fastText-hashed
    features (lowercased unigrams + space-joined bigrams, md5-u32 mod B),
    Naive-Bayes log-likelihood-ratio weights with add-1 smoothing over the
    FIXED bucket space, round-6 micro-nat quantization, per-doc integer
    sums and the length-normalized round-6 mean."""
    return (
        _classifier_ctes(n_buckets, target_sql)
        + """
SELECT doc_id, n_feats, score_micro, mean_logodds FROM docscores
"""
    )


def _classifier_ctes(n_buckets: int, target_sql: str) -> str:
    """Shared WITH-chain rebuilding the NB classifier end to end, ending in
    ``docscores(doc_id, n_feats, score_micro, mean_logodds)`` — used by the
    classifier oracle and the Pareto-gate oracle so the two recomputes
    cannot drift."""
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter({_DOC_TOKENS}, x -> x <> '') AS t FROM documents
),
flags AS (SELECT doc_id, ({target_sql}) AS is_t FROM documents),
feats AS (
  SELECT doc_id, lower(f) AS feat FROM (
    SELECT doc_id, unnest(list_concat(
      t, list_transform(range(1, length(t)), i -> t[i] || ' ' || t[i+1])
    )) AS f FROM toks)
),
fb AS (SELECT doc_id, ({_u32_sql('feat')}) % {n_buckets} AS bucket FROM feats),
counts AS (
  SELECT bucket, count(*) AS cr, count(*) FILTER (WHERE f.is_t) AS ct
  FROM fb JOIN flags f USING (doc_id) GROUP BY bucket),
tots AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr, CAST(sum(ct) AS DOUBLE) AS tt FROM counts),
w AS (SELECT bucket,
        CAST(round(round(ln((ct + 1) / (tt + {n_buckets}.0)), 6) * 1000000.0) AS BIGINT)
      - CAST(round(round(ln((cr + 1) / (tr + {n_buckets}.0)), 6) * 1000000.0) AS BIGINT) AS w_micro
      FROM counts, tots),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM fb JOIN w USING (bucket) GROUP BY doc_id),
docscores AS (
  SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
         COALESCE(s.score_micro, 0) AS score_micro,
         CASE WHEN COALESCE(s.n_feats, 0) > 0
              THEN round(CAST(s.score_micro AS DOUBLE) / s.n_feats / 1000000.0, 6)
                   + 0.0
              ELSE 0.0 END AS mean_logodds
  FROM documents d LEFT JOIN scored s USING (doc_id))"""


def _winnow_oracle(k: int, w: int) -> str:
    """Independent recompute of q_doc_winnow: per doc, md5 over every
    k-char gram, then for each of max(grams - w + 1, 1) windows the
    rightmost position of the window's (lexicographic) min hash — found as
    list_position in the REVERSED slice — deduped, with the gram hash
    recomputed from the selected position (pos determines hash, so
    distinct-pos == distinct-(pos, hash))."""
    slc = f"list_slice(h, i, i + {w - 1})"
    return f"""
WITH g AS (
  SELECT doc_id, text,
         list_transform(range(1, length(text) - {k} + 2),
                        i -> md5(substr(text, i, {k}))) AS h
  FROM documents WHERE length(text) >= {k}
),
sel AS (
  SELECT doc_id, text,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(h) - {w - 1}, 1) + 1),
           i -> i + len({slc})
                  - list_position(list_reverse({slc}), list_min({slc}))
         ))) AS pos
  FROM g
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       md5(substr(text, CAST(pos AS INTEGER), {k})) AS gram_hash
FROM sel
"""


def _pareto_gate_oracle(
    n_buckets: int, alpha: float, target_sql: str = "lang = 'en'"
) -> str:
    """Independent recompute of q_doc_pareto_gate: the classifier chain
    (shared CTEs), then the pre-inverted Pareto rule — keep iff the doc's
    'pareto:'-prefixed md5-u16 uniform clears
    floor(round6(1 - (2 - sigmoid(score))^(-alpha)) * 65536)."""
    return (
        _classifier_ctes(n_buckets, target_sql)
        + f"""
SELECT doc_id, mean_logodds,
       ({_u16_sql("'pareto:' || CAST(doc_id AS STRING)")})
       >= CAST(floor(round(
            1 - pow(2 - 1.0 / (1 + exp(-mean_logodds)), -{alpha}), 6
          ) * 65536.0) AS BIGINT) AS keep_pareto
FROM docscores
"""
    )


def _semantic_decontam_oracle(threshold: float, bench_mod: int = 37) -> str:
    """Independent recompute of q_embed_semantic_decontam: unit-normalize,
    split bench/corpus on the vec_id modulus, brute-force max round-6
    cosine per corpus vector, threshold flag."""
    return f"""
WITH {_UNIT_VEC.strip()},
bench AS (SELECT unit FROM unitv WHERE vec_id % {bench_mod} = 0),
corp AS (SELECT vec_id, unit FROM unitv WHERE vec_id % {bench_mod} <> 0),
scored AS (
  SELECT c.vec_id,
         max(round(list_inner_product(c.unit, b.unit), 6)) AS max_bench_cos
  FROM corp c CROSS JOIN bench b GROUP BY c.vec_id)
SELECT vec_id, max_bench_cos, (max_bench_cos >= {threshold}) AS contaminated
FROM scored
"""


def _temperature_mix_oracle(temperature: float, target_fraction: float) -> str:
    """Independent recompute of corpus.temperature_mix over documents by
    source: per-source counts -> n^(1/T) shares -> keep rate
    min(1, frac*N*share/n) -> integer threshold floor(round6(rate)*65536),
    keep iff the md5-u16 draw falls under it.  pow/round are IEEE-double in
    both engines; round-6 absorbs last-ulp divergence (documented
    measure-zero risk, same as the md5-seed centroids)."""
    alpha = 1.0 / float(temperature)
    return f"""
WITH n AS (SELECT source, CAST(count(*) AS DOUBLE) AS mass FROM documents GROUP BY source),
t AS (SELECT sum(mass) AS tot, sum(pow(mass, {alpha})) AS denom FROM n),
r AS (SELECT source,
        CAST(floor(round(least(1.0, {target_fraction} * tot * pow(mass, {alpha}) / denom / mass), 6) * 65536.0) AS BIGINT) AS thr
      FROM n, t)
SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
WHERE ({_u16_sql("doc_id")}) < r.thr
"""


def _dup_span_oracle(k: int, clean: bool) -> str:
    """Independent recompute of span_dedup (word-k-gram duplicated-span
    removal, keep-first): grams by position via parallel unnest, keeper =
    row_number 1 over (doc_id, pos), covered = removed-occurrence ranges,
    then either the per-doc coverage stats or the uncovered-token rebuild
    (generate_subscripts + string_agg — blind to the Spark side's
    higher-order-function filter)."""
    cte = f"""
WITH toks AS (
  SELECT doc_id, list_filter({_DOC_TOKENS}, x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id,
         unnest(range(len(t) - {k} + 1)) AS pos,
         unnest(list_transform(range(len(t) - {k} + 1),
                i -> md5(array_to_string(t[i+1:i+{k}], ' ')))) AS g
  FROM toks WHERE len(t) >= {k}
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM occ
),
removed AS (SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1),
covered AS (
  SELECT DISTINCT doc_id, pos + r.range AS tpos FROM removed, range({k}) r
)"""
    if not clean:
        return f"""{cte},
cov_agg AS (SELECT doc_id, count(*) AS covered_tokens FROM covered GROUP BY doc_id)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CASE WHEN len(tk.t) > 0
            THEN round(COALESCE(c.covered_tokens, 0) / CAST(len(tk.t) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_coverage
FROM toks tk LEFT JOIN cov_agg c USING (doc_id)
"""
    return f"""{cte},
tokpos AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS tpos FROM toks
),
kept AS (
  SELECT tp.doc_id, tp.tok, tp.tpos
  FROM tokpos tp LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.tpos = tp.tpos
  WHERE c.doc_id IS NULL
),
asm AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text FROM kept GROUP BY doc_id)
SELECT tk.doc_id, COALESCE(a.clean_text, '') AS clean_text
FROM toks tk LEFT JOIN asm a USING (doc_id)
"""


_TOK_OCC = f"""
tok AS (
  SELECT doc_id, lower(t) AS tok
  FROM (SELECT doc_id, unnest(list_filter({_DOC_TOKENS}, x -> x <> '')) AS t
        FROM documents)
)
"""


def _vocabulary_oracle(top_v: int) -> str:
    """Independent recompute of textstats.vocabulary: lowercased non-empty
    tokens, count desc / token asc total order, rank within the top-V."""
    return f"""
WITH {_TOK_OCC.strip()},
counts AS (SELECT tok, count(*) AS n_occ FROM tok GROUP BY tok),
ranked AS (
  SELECT tok AS token, CAST(n_occ AS BIGINT) AS n_occ,
         CAST(row_number() OVER (ORDER BY n_occ DESC, tok) AS INTEGER) AS vocab_rank
  FROM counts)
SELECT token, n_occ, vocab_rank FROM ranked WHERE vocab_rank <= {top_v}
"""


# Shared WITH-chain rebuilding the corpus unigram LM end to end, ending in
# ``surtbl(doc_id, n_tokens, surprise)`` over ALL documents — used by the
# unigram-surprise oracle and the perplexity-bucket oracle so the two
# recomputes cannot drift.
_SURPRISE_CTES = f"""
WITH {_TOK_OCC.strip()},
counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM counts),
lp AS (SELECT tok,
              CAST(round(-round(ln(cnt / t), 6) * 1000000.0) AS BIGINT) AS lpmicro
       FROM counts, tot),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(CAST(sum(lpmicro) AS DOUBLE) / count(*) / 1000000.0, 6) AS surprise
  FROM tok JOIN lp USING (tok) GROUP BY doc_id),
surtbl AS (
  SELECT d.doc_id,
         CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         COALESCE(s.surprise, 0.0) AS surprise
  FROM documents d LEFT JOIN scored s USING (doc_id))"""

def _bigram_surprise_oracle(lam: float) -> str:
    """Independent recompute of textstats.bigram_surprise: per-doc ordered
    bigram occurrences, the interpolated probability from the SAME four
    integers (lam·cb/cp + (1−lam)·cu/N — both interpolation weights emitted
    via repr() so each engine parses the IDENTICAL double, including the
    1-ulp 1−lam artifact), round-6 −ln, integer micro-nats, integer-sum
    mean."""
    one_minus = 1.0 - float(lam)
    return f"""
WITH {_TOK_OCC.strip()},
tl AS (
  SELECT doc_id,
         list_transform(list_filter({_DOC_TOKENS}, x -> x <> ''),
                        x -> lower(x)) AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
  FROM tl, UNNEST(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
),
uni AS (SELECT tok, count(*) AS cu FROM tok GROUP BY tok),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
bcnt AS (SELECT prev, cur, count(*) AS cb FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, CAST(sum(cb) AS DOUBLE) AS cp FROM bcnt GROUP BY 1),
lp AS (
  SELECT b.prev, b.cur,
         CAST(round(-round(ln(CAST({float(lam)!r} AS DOUBLE) * b.cb / c.cp
                              + CAST({one_minus!r} AS DOUBLE) * u.cu / n.n), 6)
                    * 1000000.0) AS BIGINT) AS lpmicro
  FROM bcnt b JOIN ctx c USING (prev) JOIN uni u ON b.cur = u.tok, n
),
scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(lpmicro) AS DOUBLE) / count(*) / 1000000.0, 6)
           AS bigram_surprise
  FROM bg JOIN lp USING (prev, cur) GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       COALESCE(s.bigram_surprise, 0.0) AS bigram_surprise
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


_UNIGRAM_SURPRISE_ORACLE = (
    _SURPRISE_CTES
    + """
SELECT doc_id, n_tokens, surprise FROM surtbl
"""
)


def _ppl_buckets_oracle(n_buckets: int) -> str:
    """Independent recompute of q_doc_ppl_buckets: the full unigram-LM
    surprise chain (shared CTEs), the per-(lang, micro-nat score)
    histogram, the strictly-below cumulative count over histogram rows and
    the all-integer bucket = (cum_below * k) // n_lang cut."""
    return (
        _SURPRISE_CTES
        + f""",
keyed AS (
  SELECT s.doc_id, d.lang, s.surprise,
         CAST(round(s.surprise * 1000000.0) AS BIGINT) AS smicro
  FROM surtbl s JOIN documents d USING (doc_id)),
hist AS (SELECT lang, smicro, count(*) AS cnt FROM keyed GROUP BY 1, 2),
buck AS (
  SELECT lang, smicro,
         (COALESCE(sum(cnt) OVER (PARTITION BY lang ORDER BY smicro
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0)
          * {int(n_buckets)})
         // (sum(cnt) OVER (PARTITION BY lang)) AS ppl_bucket
  FROM hist)
SELECT k.doc_id, k.lang, k.surprise,
       CAST(b.ppl_bucket AS INTEGER) AS ppl_bucket
FROM keyed k JOIN buck b USING (lang, smicro)
"""
    )


def _gopher_ctes(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean: int = 3,
    max_mean: int = 10,
    min_stopwords: int = 2,
) -> str:
    """Shared WITH-chain replaying the Gopher gate (tokenization, line
    splitting, cross-multiplied integer ratio rules, stopword containment
    count), ending in ``rules(doc_id, n_words, g_*, keep_gopher)`` — used
    by the gopher oracle and the corpus-report oracle so the two
    recomputes cannot drift."""
    stop_sum = " + ".join(
        f"CASE WHEN list_contains(lowtoks, '{w}') THEN 1 ELSE 0 END"
        for w in [
            "the", "be", "to", "of", "and", "that", "have", "with",
        ]
    )
    return f"""
WITH feats AS (
  SELECT doc_id, text,
         list_filter({_DOC_TOKENS}, x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
  FROM documents
),
base AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT)
      AS sum_len,
    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
    CAST(len(regexp_extract_all(text, '\\.\\.\\.'))
         + length(text) - length(replace(text, '…', '')) AS BIGINT) AS n_ell,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(list_filter(ls, x -> regexp_matches(ltrim(x), '^[-*•]')))
         AS BIGINT) AS n_bullet,
    CAST(len(list_filter(ls, x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))
         AS BIGINT) AS n_ell_end,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
         AS BIGINT) AS n_alpha,
    ({stop_sum}) AS n_stop
  FROM (SELECT doc_id, text, toks, ls,
               list_transform(toks, x -> lower(x)) AS lowtoks FROM feats)
),
rules AS (
  SELECT doc_id, n_words, g_word_count, g_mean_word_len, g_symbol_ratio,
         g_bullet_lines, g_ellipsis_lines, g_alpha_words, g_stopwords,
         (g_word_count AND g_mean_word_len AND g_symbol_ratio AND
          g_bullet_lines AND g_ellipsis_lines AND g_alpha_words AND
          g_stopwords) AS keep_gopher
  FROM (
    SELECT doc_id, n_words,
      n_words >= {min_words} AND n_words <= {max_words} AS g_word_count,
      sum_len >= {min_mean} * n_words AND sum_len <= {max_mean} * n_words
        AS g_mean_word_len,
      n_hash * 10 <= n_words AND n_ell * 10 <= n_words AS g_symbol_ratio,
      n_bullet * 10 <= n_lines * 9 AS g_bullet_lines,
      n_ell_end * 10 <= n_lines * 3 AS g_ellipsis_lines,
      n_alpha * 10 >= n_words * 8 AS g_alpha_words,
      n_stop >= {min_stopwords} AS g_stopwords
    FROM base)
)"""


def _gopher_rules_oracle(min_stopwords: int = 2) -> str:
    """Independent recompute of q_doc_gopher_rules (shared CTE chain) —
    all integer arithmetic, bit-exact by construction."""
    return (
        _gopher_ctes(min_stopwords=min_stopwords)
        + """
SELECT doc_id, n_words, g_word_count, g_mean_word_len, g_symbol_ratio,
       g_bullet_lines, g_ellipsis_lines, g_alpha_words, g_stopwords,
       keep_gopher
FROM rules
"""
    )


def _strip_common_lines_oracle(
    max_doc_frac: float, min_docs: int, min_words: int
) -> str:
    """Independent recompute of q_doc_strip_common_lines: the conv-docs
    chain, per-line eligibility, the distinct-doc frequency threshold
    max(min_docs, ceil(frac * n_docs)) from a scalar aggregate, and the
    rebuild dropping every occurrence of a common line."""
    return oracles.on_transcripts(
        _conv_docs_ctes()
        + f""",
lns AS (
  SELECT conv_id, string_split(text, chr(10)) AS l,
         len(string_split(text, chr(10))) AS nl
  FROM convdocs),
occ AS (
  SELECT conv_id, u.p - 1 AS pos, trim(u.s) AS tl
  FROM (SELECT conv_id,
               unnest(list_transform(range(1, nl + 1),
                                     i -> {{'p': i, 's': l[i]}})) AS u
        FROM lns)),
elig AS (
  SELECT conv_id, pos, md5(tl) AS k
  FROM occ
  WHERE tl <> ''
    AND len(list_filter(string_split_regex(tl, '[^\\w'']+'),
                        x -> x <> '')) >= {min_words}),
nd AS (SELECT count(*) AS n_docs FROM convdocs),
common AS (
  SELECT k FROM elig, nd
  GROUP BY k, nd.n_docs
  HAVING count(DISTINCT conv_id)
         >= greatest({min_docs},
                     CAST(ceil({max_doc_frac} * nd.n_docs) AS BIGINT))),
drops AS (
  SELECT conv_id, list_sort(list(pos)) AS dr
  FROM elig JOIN common USING (k) GROUP BY conv_id)
SELECT n.conv_id,
       array_to_string(
         list_transform(
           list_filter(range(1, n.nl + 1),
                       i -> NOT list_contains(COALESCE(d.dr, []), i - 1)),
           i -> n.l[i]),
         chr(10)) AS clean_text,
       CAST(n.nl AS BIGINT) AS n_lines,
       CAST(COALESCE(len(d.dr), 0) AS BIGINT) AS n_lines_removed
FROM lns n LEFT JOIN drops d USING (conv_id)
"""
    )


def _corpus_report_oracle() -> str:
    """Independent recompute of q_corpus_report: the Gopher chain (shared
    CTEs, min_stopwords=1), PII presence over the original text with the
    same Java/RE2-common patterns, integer-only per-group aggregate."""
    pii_terms = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _name, pat, _tok in textstats.PII_PATTERNS
    )
    return (
        _gopher_ctes(min_stopwords=1)
        + f""",
docfeat AS (
  SELECT d.doc_id, d.source, d.lang,
         CAST(length(d.text) AS BIGINT) AS nc,
         ({pii_terms}) > 0 AS has_pii,
         r.n_words AS nt, r.keep_gopher
  FROM documents d JOIN rules r USING (doc_id))
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars,
       min(nt) AS min_tokens,
       max(nt) AS max_tokens,
       CAST(sum(CASE WHEN keep_gopher THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_keep,
       CAST(sum(CASE WHEN has_pii THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_pii
FROM docfeat GROUP BY source, lang
"""
    )


def _semdedup_oracle(threshold: float, n_centroids: int) -> str:
    """Independent end-to-end recompute of q_embed_semdedup: md5-ordered
    seed centroids (round-6 unit components), nearest-centroid assignment
    (ties -> lowest cid), within-cluster round-6 cosine pairs, recursive-CTE
    reachability for the groups, keep-first (min reachable id).  The same
    given-this-index discipline as _ivf_topk_oracle — no candidate
    structure taken on faith."""
    return f"""
WITH RECURSIVE {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, unit, cid AS centroid_id FROM (
    SELECT u.vec_id, u.unit, c.cid,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv u CROSS JOIN cents c)
  WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.unit, b.unit), 6) >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM assigned
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
reps AS (SELECT id, min(r) AS rep_id FROM reach GROUP BY id)
SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id
FROM assigned a JOIN reps g ON g.id = a.vec_id AND g.rep_id = a.vec_id
"""


def _diversity_oracle(ns: tuple[int, ...]) -> str:
    """Independent recompute of q_corpus_diversity: per n the full
    (non-distinct) shingle stream as md5 keys, count + count-distinct,
    integral-division ratio — mirroring shingles_from_tokens' guard
    (docs shorter than n tokens contribute nothing)."""
    parts = []
    for n in ns:
        parts.append(f"""
SELECT CAST({n} AS INTEGER) AS n,
       CAST(count(*) AS BIGINT) AS total_grams,
       CAST(count(DISTINCT h) AS BIGINT) AS distinct_grams,
       CAST(CASE WHEN count(*) > 0
            THEN (1000000 * count(DISTINCT h)) // count(*)
            ELSE 0 END AS BIGINT) AS ratio_micro
FROM (
  SELECT unnest([md5(array_to_string(tks[i:i+{n - 1}], ' '))
                 FOR i IN range(1, len(tks) - {n - 2})]) AS h
  FROM tk WHERE len(tks) >= {n}
)""")
        # noqa: the CTE tk is shared by every branch of the UNION
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH tk AS (
  SELECT list_filter({_DOC_TOKENS}, t -> t <> '') AS tks FROM documents
)
{body}
"""


_FORECAST_BACKTEST_ORACLE = """
WITH h AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
b AS (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM h GROUP BY 1),
sp AS (SELECT key, unnest(generate_series(mn, mx)) AS hour_id FROM b),
d AS (
  SELECT sp.key, sp.hour_id, COALESCE(h.cnt, 0) AS cnt
  FROM sp LEFT JOIN h ON h.key = sp.key AND h.hour_id = sp.hour_id
),
e AS (
  SELECT key,
         abs(cnt - lag(cnt, 1) OVER w) AS e1,
         abs(cnt - lag(cnt, 24) OVER w) AS e24
  FROM d WINDOW w AS (PARTITION BY key ORDER BY hour_id)
),
st AS (
  SELECT key, 1 AS lag, e1 AS e FROM e WHERE e1 IS NOT NULL
  UNION ALL
  SELECT key, 24 AS lag, e24 AS e FROM e WHERE e24 IS NOT NULL
)
SELECT key, CAST(lag AS INTEGER) AS lag,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(e) AS BIGINT) AS sum_abs_err,
       CAST((1000 * sum(e)) // count(*) AS BIGINT) AS mae_milli
FROM st GROUP BY key, lag"""


def _lang_margin_oracle() -> str:
    """Replay of q_doc_lang_margin: per-language stopword hit structs,
    lexicographic struct sort (desc hits, desc lang — the array_max tie
    rule), top-2 extraction and the mixed-flag rule."""
    structs = ", ".join(
        "{{'hits': len(list_filter(toks, x -> x IN ({words}))), "
        "'lang': '{lang}'}}".format(
            words=", ".join(f"'{w}'" for w in ws), lang=lang
        )
        for lang, ws in _LANG_HITS.items()
    )
    return f"""
WITH tk AS (
  SELECT doc_id, list_transform({_DOC_TOKENS}, x -> lower(x)) AS toks
  FROM documents
),
sc AS (
  SELECT doc_id, list_reverse(list_sort([{structs}])) AS r FROM tk
)
SELECT doc_id,
  CASE WHEN r[1].hits > 0 THEN r[1].lang ELSE 'unknown' END AS lang_pred,
  CAST(r[1].hits AS BIGINT) AS best_hits,
  CASE WHEN r[2].hits > 0 THEN r[2].lang END AS second_lang,
  CAST(r[2].hits AS BIGINT) AS second_hits,
  CAST(r[1].hits - r[2].hits AS BIGINT) AS margin,
  (r[2].hits * 2 >= r[1].hits AND r[2].hits >= 2) AS mixed
FROM sc
"""


def _session_impact_oracle() -> str:
    """Replay of q_events_session_impact: the full burst oracle rides as a
    nested-WITH CTE, sessions via the proven sessionize chain, then a
    BRUTE-FORCE overlap join (no bucket structure — checks the bucketed
    join's completeness) with exact intersection spans."""
    return f"""
WITH anom AS ({_burst_hours_oracle(n=24, z=3)}),
g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
),
iv AS (
  SELECT CAST(user_id * 100000 + sess_id AS BIGINT) AS sid,
         min(ts) AS s_ts, max(ts) AS e_ts
  FROM s GROUP BY user_id, sess_id
),
win AS (
  SELECT event_type || '#' || CAST(hour_id AS VARCHAR) AS rid,
         TIMESTAMP '1970-01-01' + INTERVAL (hour_id * 3600) SECOND AS rs,
         TIMESTAMP '1970-01-01' + INTERVAL (hour_id * 3600 + 3599) SECOND AS re
  FROM anom
)
SELECT sid, rid,
       greatest(s_ts, rs) AS overlap_start,
       least(e_ts, re) AS overlap_end,
       CAST(epoch_us(least(e_ts, re)) - epoch_us(greatest(s_ts, rs))
            AS BIGINT) AS overlap_us
FROM iv JOIN win ON s_ts <= re AND rs <= e_ts
"""


def _benford_oracle() -> str:
    """Independent recompute of q_events_benford: micro-quantized integer
    first digits, the shared literal expected-mass table, integral-division
    shares."""
    from log_analysis_spark.operators.expectations import BENFORD_EXPECTED_MICRO

    evals = ", ".join(
        f"({d}, {m})" for d, m in sorted(BENFORD_EXPECTED_MICRO.items())
    )
    return f"""
WITH src AS (
  SELECT abs(CAST(round(value * 1000000) AS BIGINT)) AS i
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT CAST(substr(CAST(i AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS n
  FROM src WHERE i > 0 GROUP BY 1
),
e AS (SELECT * FROM (VALUES {evals}) t(digit, expected_micro)),
t AS (SELECT COALESCE(sum(n), 0) AS tot FROM c)
SELECT e.digit,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       CAST(CASE WHEN t.tot > 0
            THEN (1000000 * COALESCE(c.n, 0)) // t.tot ELSE 0 END AS BIGINT)
         AS observed_micro,
       CAST(e.expected_micro AS BIGINT) AS expected_micro,
       CAST(CASE WHEN t.tot > 0
            THEN (1000000 * COALESCE(c.n, 0)) // t.tot ELSE 0 END
            - e.expected_micro AS BIGINT) AS dev_micro
FROM e LEFT JOIN c USING (digit) CROSS JOIN t
"""


def _mmr_oracle(n_cand: int = 20, k: int = 5, lam: int = 700_000) -> str:
    """Independent replay of q_embed_mmr: cosine top-n_cand candidates,
    the full pairwise round-6 micro sim matrix, then each greedy round as
    its own MATERIALIZED CTE (selected set grows by the per-query argmax
    of lam·rel − (1e6−lam)·max-sim, ties → lowest id).  MATERIALIZED is
    load-bearing: each round references the previous selection twice and
    CTE inlining re-expands the chain multiplicatively (the k-core fd
    lesson)."""
    om = 1_000_000 - lam
    rounds, sels = [], []
    for i in range(2, k + 1):
        rounds.append(f"""
s{i} AS MATERIALIZED (
  SELECT query_id, corpus_id, rel, val FROM (
    SELECT c.query_id, c.corpus_id, c.rel,
           {lam} * c.rel - {om} * mx.m AS val,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY ({lam} * c.rel - {om} * mx.m) DESC,
                                       c.corpus_id) AS rk
    FROM cand c
    JOIN (SELECT sims.query_id, sims.ca AS corpus_id, max(sims.sm) AS m
          FROM sims JOIN sel{i - 1} sl
            ON sl.query_id = sims.query_id AND sl.corpus_id = sims.cb
          GROUP BY 1, 2) mx
      ON mx.query_id = c.query_id AND mx.corpus_id = c.corpus_id
    ANTI JOIN sel{i - 1} pv
      ON pv.query_id = c.query_id AND pv.corpus_id = c.corpus_id)
  WHERE rk = 1
),
sel{i} AS MATERIALIZED (
  SELECT query_id, corpus_id FROM sel{i - 1}
  UNION ALL SELECT query_id, corpus_id FROM s{i}
)""")
        sels.append(i)
    chain = ",".join(rounds)
    finals = "\nUNION ALL\n".join(
        f"SELECT query_id, corpus_id, {i} AS rank, rel AS rel_micro,"
        f" val AS val_pico FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"""
WITH {_UNIT_VEC.strip()},
q AS (SELECT vec_id AS query_id, unit AS qvec FROM unitv WHERE query_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
         round(list_inner_product(q.qvec, c.unit), 6) AS score, c.unit AS cu
  FROM q JOIN unitv c ON q.query_id <> c.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, corpus_id,
         CAST(round(score * 1000000) AS BIGINT) AS rel, cu
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, corpus_id) AS rk
        FROM scored)
  WHERE rk <= {int(n_cand)}
),
sims AS MATERIALIZED (
  SELECT a.query_id, a.corpus_id AS ca, b.corpus_id AS cb,
         CAST(round(round(list_inner_product(a.cu, b.cu), 6) * 1000000)
              AS BIGINT) AS sm
  FROM cand a JOIN cand b ON a.query_id = b.query_id
),
s1 AS MATERIALIZED (
  SELECT query_id, corpus_id, rel, CAST({lam} AS BIGINT) * rel AS val
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, corpus_id) AS rk
        FROM cand)
  WHERE rk = 1
),
sel1 AS MATERIALIZED (SELECT query_id, corpus_id FROM s1),{chain}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(corpus_id AS BIGINT) AS corpus_id,
       CAST(rank AS INTEGER) AS rank,
       rel_micro, val_pico
FROM ({finals})
"""


def _cluster_psi_oracle(n_centroids: int, thr_micro: int = 200_000) -> str:
    """Independent recompute of q_embed_cluster_psi: md5-ordered seed
    centroids, nearest-centroid assignment (ties -> lowest cid) for BOTH
    label halves, then the exact integer micro-nat PSI over the two
    cluster histograms (the _PSI_ORACLE algebra on centroid-id bins)."""
    return f"""
WITH {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT u.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv u CROSS JOIN cents c)
  WHERE rn = 1
),
ca_ AS (
  SELECT CAST(a.centroid_id AS BIGINT) AS bin, count(*) AS c
  FROM assigned a JOIN embeddings e USING (vec_id)
  WHERE e.label < 5 GROUP BY 1
),
cb_ AS (
  SELECT CAST(a.centroid_id AS BIGINT) AS bin, count(*) AS c
  FROM assigned a JOIN embeddings e USING (vec_id)
  WHERE e.label >= 5 GROUP BY 1
),
j AS (
  SELECT COALESCE(ca_.c, 0) + 1 AS ca, COALESCE(cb_.c, 0) + 1 AS cb
  FROM ca_ FULL OUTER JOIN cb_ ON ca_.bin = cb_.bin
),
t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS n_bins FROM j),
s AS (
  SELECT t.na, t.nb, t.n_bins,
    SUM((CAST(ca AS HUGEINT) * t.nb - CAST(cb AS HUGEINT) * t.na)
      * (CAST(round(ln(CAST(CAST(ca AS HUGEINT) * t.nb AS DOUBLE))
                    * 1000000) AS BIGINT)
       - CAST(round(ln(CAST(CAST(cb AS HUGEINT) * t.na AS DOUBLE))
                    * 1000000) AS BIGINT))) AS sm
  FROM j, t GROUP BY t.na, t.nb, t.n_bins
)
SELECT CAST(na - n_bins AS BIGINT) AS n_a,
       CAST(nb - n_bins AS BIGINT) AS n_b,
       CAST(n_bins AS BIGINT) AS n_bins,
       CAST(sm // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS psi_micro,
       (sm // (CAST(na AS HUGEINT) * nb)) > {int(thr_micro)} AS drifted
FROM s
"""


def _cluster_balanced_oracle(cap_per_cluster: int, n_centroids: int) -> str:
    """Independent recompute of q_embed_cluster_balanced: md5-ordered seed
    centroids, nearest-centroid assignment (ties -> lowest cid), per-cluster
    keep rate min(1, cap/n), floor(round6(rate)*65536) integer threshold vs
    the 'cbal:'-prefixed md5-u16 draw."""
    return f"""
WITH {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT u.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv u CROSS JOIN cents c)
  WHERE rn = 1
),
thr AS (
  SELECT centroid_id,
         CAST(floor(round(least(1.0, {cap_per_cluster}.0 / count(*)), 6)
                    * 65536.0) AS BIGINT) AS t
  FROM assigned GROUP BY centroid_id
)
SELECT a.vec_id, CAST(a.centroid_id AS INTEGER) AS centroid_id
FROM assigned a JOIN thr USING (centroid_id)
WHERE ({_u16_sql("'cbal:' || CAST(a.vec_id AS STRING)")}) < thr.t
"""


def _d4_oracle(threshold: float, keep_fraction: float, n_centroids: int) -> str:
    """Independent end-to-end recompute of q_embed_d4_prune: the full
    _semdedup_oracle chain (seeds → assignment → within-cluster pairs →
    reachability → keep-first), keeping each survivor's round-6 cosine to
    its assigned centroid (``proto``), then the SSL-prototypes cut — per
    cluster, rank by proto desc / id asc and drop the first
    floor((1-keep_fraction)·n) rows.  Nothing taken on faith from the Spark
    side, including the rank/floor arithmetic."""
    return f"""
WITH RECURSIVE {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, unit, cid AS centroid_id, cos AS proto FROM (
    SELECT u.vec_id, u.unit, c.cid,
           round(list_inner_product(u.unit, c.cvec), 6) AS cos,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv u CROSS JOIN cents c)
  WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.unit, b.unit), 6) >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM assigned
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
reps AS (SELECT id, min(r) AS rep_id FROM reach GROUP BY id),
kept AS (
  SELECT a.vec_id, a.centroid_id, a.proto
  FROM assigned a JOIN reps g ON g.id = a.vec_id AND g.rep_id = a.vec_id
),
ranked AS (
  SELECT vec_id, centroid_id, proto,
         row_number() OVER (
           PARTITION BY centroid_id ORDER BY proto DESC, vec_id) AS rn,
         count(*) OVER (PARTITION BY centroid_id) AS n
  FROM kept
)
SELECT vec_id, CAST(centroid_id AS INTEGER) AS centroid_id, proto
FROM ranked
WHERE rn > CAST(floor((1.0 - {keep_fraction}) * n) AS BIGINT)
"""


def _dsir_select_oracle(k: int, target_sql: str = "lang = 'en'") -> str:
    """Independent recompute of q_corpus_dsir_select: both unigram LMs from
    the same token occurrences (target = docs matching ``target_sql``, raw =
    all docs; add-1 smoothing over the shared raw vocab), per-token round-6
    log-probs quantized to integer micro-nats, per-doc integer-sum log
    importance weight, deterministic top-k (logw desc, doc_id asc)."""
    return f"""
WITH {_TOK_OCC.strip()},
flags AS (SELECT doc_id, ({target_sql}) AS is_t FROM documents),
counts AS (
  SELECT tok, count(*) AS cr, count(*) FILTER (WHERE f.is_t) AS ct
  FROM tok JOIN flags f USING (doc_id) GROUP BY tok
),
tots AS (
  SELECT CAST(sum(cr) AS DOUBLE) AS tr, CAST(sum(ct) AS DOUBLE) AS tt,
         CAST(count(*) AS DOUBLE) AS v
  FROM counts
),
dlp AS (
  SELECT tok,
         CAST(round(round(ln((ct + 1) / (tt + v)), 6) * 1000000.0) AS BIGINT)
       - CAST(round(round(ln((cr + 1) / (tr + v)), 6) * 1000000.0) AS BIGINT)
           AS dlpmicro
  FROM counts, tots
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(dlpmicro) AS BIGINT) AS logw_micro
  FROM tok JOIN dlp USING (tok) GROUP BY doc_id
)
SELECT doc_id, n_tokens, logw_micro FROM scored
ORDER BY logw_micro DESC, doc_id
LIMIT {k}
"""


def _leakage_split_oracle(eval_fraction: float) -> str:
    """Independent recompute of q_corpus_leakage_split: the
    _neardup_groups_oracle reachability chain (exact global Jaccard pairs ->
    min-reachable-id representative) plus the md5-u16 split draw on the
    REPRESENTATIVE id — every group lands whole in one split."""
    thr = int(round(float(eval_fraction) * 65536.0))
    return f"""
WITH RECURSIVE {_DOC_SHINGLES_2.strip()},
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS sz
  FROM doc_sh a JOIN doc_sh b ON a.id < b.id
),
pairs AS (
  SELECT id_a, id_b FROM scored WHERE inter / (sz - inter) >= {NGRAM_JACCARD_T}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
reps AS (SELECT id, min(r) AS rep_id FROM reach GROUP BY id)
SELECT id AS doc_id, rep_id,
       CASE WHEN ({_u16_sql("'split:' || CAST(rep_id AS VARCHAR)")}) < {thr}
            THEN 'eval' ELSE 'train' END AS split
FROM reps
"""


def _corpus_sample_oracle(rates: dict[str, float], default_rate: float = 1.0) -> str:
    """Mirror of corpus.stratified_sample: u16 = leading 4 md5 hex nibbles
    of the id (strpos-decoded), keep iff u16 < round(rate * 65536)."""
    u16 = _u16_sql("doc_id")
    rate = "CASE " + " ".join(
        f"WHEN lang = '{s}' THEN {r}" for s, r in sorted(rates.items())
    ) + f" ELSE {default_rate} END"
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE ({u16}) < CAST(round(({rate}) * 65536.0) AS BIGINT)
"""


def _conv_docs_ctes(frac: float = 0.1, min_convs: int = 2) -> str:
    """Shared WITH-chain fragment replaying transcripts→docs assembly
    (threshold from a scalar aggregate, boilerplate strip via NOT IN,
    ordered assembly via struct-sort), ending in ``convdocs(conv_id,
    text, n_turns, n_turns_kept)`` — used by the conv_docs oracle and the
    line-dedup oracle so the two recomputes cannot drift."""
    return f""",
tsrc AS (
  SELECT conv_id, turn_idx, role, COALESCE(text, '') AS text
  FROM transcripts),
tot AS (SELECT count(DISTINCT conv_id) AS nc FROM tsrc),
bp AS (
  SELECT text FROM tsrc, tot
  GROUP BY text, tot.nc
  HAVING count(DISTINCT conv_id) >= greatest({min_convs}, CAST(ceil({frac} * tot.nc) AS BIGINT))
),
kept AS (SELECT * FROM tsrc WHERE text NOT IN (SELECT text FROM bp)),
asm AS (
  SELECT conv_id,
         array_to_string(
           list_transform(
             list_sort(list({{'i': turn_idx, 'r': role, 't': text}})),
             s -> s.r || ': ' || s.t),
           chr(10)) AS text,
         count(*) AS kept
  FROM kept GROUP BY conv_id
),
convdocs AS (
  SELECT c.conv_id, COALESCE(asm.text, '') AS text, c.n_turns,
         CAST(COALESCE(asm.kept, 0) AS BIGINT) AS n_turns_kept
  FROM (SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id) c
  LEFT JOIN asm USING (conv_id))"""


def _conv_docs_oracle(frac: float = 0.1, min_convs: int = 2) -> str:
    """Independent recompute of q_conv_docs (shared CTE chain; blind to
    the Spark side's broadcast anti-join shape)."""
    return oracles.on_transcripts(
        _conv_docs_ctes(frac, min_convs)
        + """
SELECT conv_id, text, n_turns, n_turns_kept FROM convdocs
"""
    )


def _line_dedup_oracle(min_words: int = 2) -> str:
    """Independent recompute of q_doc_line_dedup: the conv-docs chain,
    then per-line eligibility (trimmed non-empty, >= min_words tokens),
    the global keep-first over md5(trim(line)) via a row_number window
    ordered by (conv_id, pos), and the indexed-filter rebuild."""
    return oracles.on_transcripts(
        _conv_docs_ctes()
        + f""",
lns AS (
  SELECT conv_id, string_split(text, chr(10)) AS l,
         len(string_split(text, chr(10))) AS nl
  FROM convdocs),
occ AS (
  SELECT conv_id, u.p - 1 AS pos, trim(u.s) AS tl
  FROM (SELECT conv_id,
               unnest(list_transform(range(1, nl + 1),
                                     i -> {{'p': i, 's': l[i]}})) AS u
        FROM lns)),
elig AS (
  SELECT conv_id, pos, md5(tl) AS k
  FROM occ
  WHERE tl <> ''
    AND len(list_filter(string_split_regex(tl, '[^\\w'']+'),
                        x -> x <> '')) >= {min_words}),
rem AS (
  SELECT conv_id, pos FROM (
    SELECT conv_id, pos,
           row_number() OVER (PARTITION BY k ORDER BY conv_id, pos) AS rn
    FROM elig)
  WHERE rn > 1),
drops AS (SELECT conv_id, list_sort(list(pos)) AS dr FROM rem GROUP BY conv_id)
SELECT n.conv_id,
       array_to_string(
         list_transform(
           list_filter(range(1, n.nl + 1),
                       i -> NOT list_contains(COALESCE(d.dr, []), i - 1)),
           i -> n.l[i]),
         chr(10)) AS clean_text,
       CAST(n.nl AS BIGINT) AS n_lines,
       CAST(COALESCE(len(d.dr), 0) AS BIGINT) AS n_lines_removed
FROM lns n LEFT JOIN drops d USING (conv_id)
"""
    )


def _decontaminate_oracle(n: int = 5) -> str:
    """Brute gram-collision recompute of q_doc_decontaminate — knows nothing
    of the broadcast/semi-join structure, only the semantics: distinct word
    n-grams, benchmark = md5(doc_id) leading hex in ('0','1'), a non-bench
    doc is contaminated iff >=1 distinct gram collides."""
    s = n - 1  # DuckDB list slices are inclusive: t[i:i+s] is n tokens
    return f"""
WITH toks AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
         list_filter({_DOC_TOKENS}, x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, h,
         list_distinct([array_to_string(t[i:i+{s}], ' ')
                        FOR i IN range(1, len(t) - {s - 1})]) AS g
  FROM toks WHERE len(t) >= {n}
),
bench_g AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE h IN ('0','1')),
doc_g AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE h NOT IN ('0','1')),
hits AS (SELECT doc_id, count(*) AS nh FROM doc_g JOIN bench_g USING (gram) GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(hits.nh, 0) AS BIGINT) AS n_hit_grams,
       COALESCE(hits.nh, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) NOT IN ('0','1')
"""


def _decontaminate_bloom_oracle(n: int, m_bits: int, n_hashes: int) -> str:
    """Independent recompute of q_doc_decontaminate_bloom: same gram CTEs as
    _decontaminate_oracle, then the Bloom chain from first principles —
    md5-u32("<i>:" || gram) mod m positions, the benchmark's set-bit table,
    and the all-positions-hit flagging rule.  Encodes none of the Spark
    side's broadcast/gram-hash structure."""
    s = n - 1

    def poss(val: str) -> str:
        parts = [
            f"(({_u32_sql(repr(f'{i}:') + ' || ' + val)}) % {int(m_bits)})"
            for i in range(n_hashes)
        ]
        return "list_distinct([" + ", ".join(parts) + "])"

    return f"""
WITH toks AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
         list_filter({_DOC_TOKENS}, x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, h,
         list_distinct([array_to_string(t[i:i+{s}], ' ')
                        FOR i IN range(1, len(t) - {s - 1})]) AS g
  FROM toks WHERE len(t) >= {n}
),
bench_g AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE h IN ('0','1')),
bits AS (SELECT DISTINCT unnest({poss('gram')}) AS pos FROM bench_g),
doc_g AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE h NOT IN ('0','1')),
doc_pos AS (SELECT doc_id, gram, len({poss('gram')}) AS npos,
                   unnest({poss('gram')}) AS pos
            FROM doc_g),
flag AS (
  SELECT doc_id, gram FROM doc_pos JOIN bits USING (pos)
  GROUP BY doc_id, gram, npos HAVING count(*) = npos),
hits AS (SELECT doc_id, count(*) AS nf FROM flag GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(nf, 0) AS BIGINT) AS n_flagged_grams,
       COALESCE(nf, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) NOT IN ('0','1')
"""


def _bm25_oracle(k: int, k1: float, b: float) -> str:
    """Independent recompute of q_doc_bm25_topk: tokenization, query
    vocabulary, tf/df, corpus stats and the round-6 / integer-micro BM25
    scoring chain, ranked per query with the same (score desc, doc asc)
    tie rule.  Decimal constants are emitted via repr() of the SAME Python
    doubles the Spark side lits, so both engines compute over identical
    IEEE values (ln is the accepted round-6-guarded libm call)."""
    qvals = ", ".join(f"({qid}, '{qt}')" for qid, qt in BM25_QUERIES)
    k1p1, one_minus_b = repr(float(k1) + 1.0), repr(1.0 - float(b))
    k1r, br = repr(float(k1)), repr(float(b))
    return f"""
WITH qry AS (SELECT * FROM (VALUES {qvals}) t(query_id, query_text)),
qterm AS (
  SELECT DISTINCT query_id, lower(t) AS term
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(trim(query_text), '[^\\w'']+'),
                                  x -> x <> '')) AS t
        FROM qry)),
tok AS (
  SELECT doc_id, lower(t) AS tok
  FROM (SELECT doc_id, unnest(list_filter({_DOC_TOKENS}, x -> x <> '')) AS t
        FROM documents)),
lengths AS (
  SELECT doc_id, CAST(len(list_filter({_DOC_TOKENS}, x -> x <> '')) AS BIGINT) AS dl
  FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(COALESCE(sum(dl), 0) AS BIGINT) AS total_len
          FROM lengths),
tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
       FROM tok WHERE tok IN (SELECT term FROM qterm) GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT q.query_id, tf.doc_id,
    CAST(round(round(
      round(ln((CAST(s.n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0), 6)
      * (CAST(tf AS DOUBLE) * {k1p1}
         / (CAST(tf AS DOUBLE)
            + {k1r} * ({one_minus_b}
                       + {br} * (CAST(dl AS DOUBLE) * CAST(s.n_docs AS DOUBLE)
                                 / CAST(s.total_len AS DOUBLE)))))
    , 6) * 1000000.0) AS BIGINT) AS cmicro
  FROM tf JOIN dft USING (term) JOIN lengths USING (doc_id) CROSS JOIN stats s
  JOIN qterm q ON q.term = tf.term),
scored AS (SELECT query_id, doc_id, sum(cmicro) AS smicro FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id,
         round(CAST(smicro AS DOUBLE) / 1000000.0, 6) AS score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY smicro DESC, doc_id) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {int(k)}
"""


def _hybrid_oracle(k_each: int, k: int, k0: int, k1: float, b: float) -> str:
    """Independent recompute of q_doc_hybrid_search: the full BM25 oracle
    rides as one CTE (nested WITH), the Jaccard ranker is recomputed from
    tokenization up (distinct lowercased token sets, integral-division
    micro scores, (score desc, doc asc) ranks), and the RRF fusion sums
    the exact 1_000_000 // (k0 + rank) integers per (query, doc)."""
    qvals = ", ".join(f"({qid}, '{qt}')" for qid, qt in BM25_QUERIES)
    return f"""
WITH bm AS ({_bm25_oracle(k_each, k1, b)}),
jqry AS (SELECT * FROM (VALUES {qvals}) t(query_id, query_text)),
jqterm AS (
  SELECT DISTINCT query_id, lower(t) AS term
  FROM (SELECT query_id,
               unnest(list_filter(string_split_regex(trim(query_text), '[^\\w'']+'),
                                  x -> x <> '')) AS t
        FROM jqry)),
jtok AS (
  SELECT DISTINCT doc_id, lower(t) AS tok
  FROM (SELECT doc_id, unnest(list_filter({_DOC_TOKENS}, x -> x <> '')) AS t
        FROM documents)),
jds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ds FROM jtok GROUP BY 1),
jqs AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qs FROM jqterm GROUP BY 1),
jint AS (SELECT q.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS i
         FROM jtok t JOIN jqterm q ON q.term = t.tok GROUP BY 1, 2),
jsc AS (SELECT query_id, doc_id,
               CAST((1000000 * i) // (qs + ds - i) AS BIGINT) AS jm
        FROM jint JOIN jqs USING (query_id) JOIN jds USING (doc_id)),
jtop AS (
  SELECT query_id, doc_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY jm DESC, doc_id) AS INTEGER) AS rank
  FROM jsc QUALIFY rank <= {int(k_each)}),
contrib AS (
  SELECT query_id, doc_id, CAST(1000000 // ({int(k0)} + rank) AS BIGINT) AS c
  FROM bm
  UNION ALL
  SELECT query_id, doc_id, CAST(1000000 // ({int(k0)} + rank) AS BIGINT) AS c
  FROM jtop),
fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
          FROM contrib GROUP BY 1, 2)
SELECT query_id, doc_id, rrf_micro,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS rank
FROM fused
QUALIFY rank <= {int(k)}
"""


# the deterministic PII-bearing suffix q_doc_pii_scrub appends to half the
# corpus (md5 leading nibble < 8) — mirrored verbatim from the Spark side
_PII_AUG = (
    "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)"
    " IN ('0','1','2','3','4','5','6','7')"
    " THEN text || ' contact u' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example from 10.2.0.' || CAST(doc_id % 250 AS VARCHAR)"
    " || ' ref 9000000' || CAST(doc_id AS VARCHAR)"
    " ELSE text END"
)


def _pii_scrub_oracle() -> str:
    """Independent recompute of q_doc_pii_scrub: same augmentation CASE,
    same patterns (textstats.PII_PATTERNS is written in the Java/RE2 common
    subset precisely so both engines interpret it identically), counts over
    the original text, replacements chained in declaration order."""
    rep = "t"
    for _name, pat, tok in textstats.PII_PATTERNS:
        rep = f"regexp_replace({rep}, '{pat}', '{tok}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS INTEGER) AS n_{name}s"
        for name, pat, _tok in textstats.PII_PATTERNS
    )
    return f"""
WITH aug AS (SELECT doc_id, {_PII_AUG} AS t FROM documents)
SELECT doc_id,
       {counts},
       {rep} AS text_clean
FROM aug
"""


def _ngram_jaccard_oracle(threshold: float = NGRAM_JACCARD_T) -> str:
    # BRUTE-FORCE GLOBAL all-pairs — deliberately encodes no blocking or
    # candidate structure, so it independently checks the prefix-filter
    # path's global exactness.  |A∪B| = |A|+|B|-|A∩B| mirrors the Spark
    # expression bit-for-bit (same numerator/denominator doubles → same
    # round).  ``threshold`` must match q_doc_ngram_jaccard's parameter.
    return f"""
WITH {_DOC_SHINGLES_2.strip()},
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS sz
  FROM doc_sh a JOIN doc_sh b ON a.id < b.id
)
SELECT id_a, id_b, round(inter / (sz - inter), 6) AS jaccard
FROM scored WHERE inter / (sz - inter) >= {threshold}
"""


def _neardup_groups_oracle(threshold: float = NGRAM_JACCARD_T) -> str:
    """Connected components via recursive-CTE reachability: reach(id, r)
    enumerates every node r reachable from id over the Jaccard pair graph
    (components are small, so the closure is cheap at oracle scale);
    rep_id = min reachable id.  Mirrors dedup.neardup_groups exactly."""
    return f"""
WITH RECURSIVE {_DOC_SHINGLES_2.strip()},
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS sz
  FROM doc_sh a JOIN doc_sh b ON a.id < b.id
),
pairs AS (
  SELECT id_a, id_b FROM scored WHERE inter / (sz - inter) >= {threshold}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT id, min(r) AS rep_id FROM reach GROUP BY id
"""


def _simhash_md5_oracle(max_hamming: int = 8) -> str:
    """Mirror of dedup.simhash_md5_table + BRUTE-FORCE all-pairs Hamming —
    deliberately encodes NO banding/candidate structure, so it independently
    checks that simhash_neardup_pairs' Manku flip-enumeration is lossless at
    the configured radius.  Bit j (= 4*i + k) comes from hex nibble i of
    md5(token) (strpos-decoded), bit k from the LSB — the exact mapping the
    Spark side uses via conv()/shiftright."""
    sums = ",\n         ".join(
        "SUM(2 * ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) // {div} % 2) - 1) AS s{j}".format(
            pos=j // 4 + 1, div=1 << (j % 4), j=j
        )
        for j in range(64)
    )
    bits = ",\n    ".join(
        f"CASE WHEN COALESCE(v.s{j}, 0) > 0 THEN 1 ELSE 0 END" for j in range(64)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(trim(lower(text)), '[^\\w'']+'), x -> x <> '')) AS tok
  FROM documents
),
votes AS (
  SELECT doc_id,
         {sums}
  FROM (SELECT doc_id, md5(tok) AS h FROM tok) GROUP BY doc_id
),
bits AS (
  SELECT d.doc_id AS id, [
    {bits}
  ] AS b
  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id
),
scored AS (
  SELECT a.id AS id_a, b2.id AS id_b,
         list_sum([abs(a.b[j] - b2.b[j]) FOR j IN range(1, 65)]) AS hamming
  FROM bits a JOIN bits b2 ON a.id < b2.id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
FROM scored WHERE hamming <= {max_hamming}
"""


def _session_dedup_oracle(threshold: float = 0.5, gap_sec: int = 86400) -> str:
    """Mirror of q_session_dedup: sessionize (gap rule, identical ordering)
    → per-session ordered event-type text → brute-force global Jaccard pair
    graph → recursive-CTE reachability → representative (min-reachable-id)
    sessions.  No candidate structure leaked — the Spark side's prefix
    filter and min-label CC are independently checked end to end."""
    return f"""
WITH RECURSIVE g AS (
  SELECT user_id, ts, event_id, event_type, props,
         CASE WHEN epoch(ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > {gap_sec}
              THEN 1 ELSE 0 END AS ns
  FROM events
),
s AS (
  SELECT user_id, event_type, props, ts, event_id,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
),
sess AS (
  SELECT user_id * 1000000 + CAST(sess_id AS BIGINT) AS sess_key,
         string_agg(
           event_type || '_' ||
             CAST(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) % 16
                  AS VARCHAR),
           ' ' ORDER BY ts, event_id) AS text,
         count(*) AS n_events
  FROM s GROUP BY user_id, sess_id
),
sh AS (
  SELECT sess_key AS id,
         list_distinct([array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))]) AS sh
  FROM (SELECT sess_key, string_split_regex(trim(text), '[^\\w'']+') AS toks FROM sess)
  WHERE len(toks) >= 2
),
scored AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
         CAST(len(a.sh) + len(b.sh) AS DOUBLE) AS sz
  FROM sh a JOIN sh b ON a.id < b.id
),
pairs AS (SELECT id_a, id_b FROM scored WHERE inter / (sz - inter) >= {threshold}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT sess_key, sess_key FROM sess
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
reps AS (
  SELECT id FROM (SELECT id, min(r) AS rep_id FROM reach GROUP BY id)
  WHERE id = rep_id
)
SELECT sess.sess_key, sess.n_events FROM sess JOIN reps ON sess.sess_key = reps.id
"""


def _minhash_cand_ctes(n_hashes: int = 32, bands: int = 8) -> str:
    """The shared WITH-chain rebuilding dedup.minhash_lsh_pairs'
    (hash_impl='md5') candidate structure end to end — 3-word shingles, 32
    seeded min-md5 signature values, 8 band keys, band-bucket self-join —
    ending in ``cand(id_a, id_b, sh_a, sh_b)``.  Used by both the Jaccard
    verify oracle and the Levenshtein verify oracle so the two recomputes
    cannot drift."""
    rpb = n_hashes // bands
    band_arms = "\n  UNION ALL ".join(
        "SELECT id, sh, {b} AS band,"
        " md5(array_to_string(sig[{lo}:{hi}], ',')) AS bkey FROM sigs".format(
            b=b, lo=b * rpb + 1, hi=(b + 1) * rpb
        )
        for b in range(bands)
    )
    return f"""
doc_sh3 AS (
  SELECT doc_id AS id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS sh
  FROM (SELECT doc_id, {_DOC_TOKENS} AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT id, sh,
         [list_min([md5('mh' || CAST(j AS VARCHAR) || ':' || s) FOR s IN sh])
          FOR j IN range(0, {n_hashes})] AS sig
  FROM doc_sh3
),
banded AS (
  {band_arms}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.sh AS sh_a, b2.sh AS sh_b
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.bkey = b2.bkey AND a.id < b2.id
)"""


def _join_size_oracle(
    left: tuple[str, str],
    right: tuple[str, str],
    mod: int,
    keep: int,
    hh_k: int,
) -> str:
    """Mirror of sketches.join_size_estimate over two (table, key) sides:
    exact heavy keys (count·hh_k > n on either side — a plain HAVING, a
    DIFFERENT algorithm than Spark's Misra-Gries two-pass, so agreement
    also re-proves the MG guarantee), exact per-key counts for them, the
    md5-u32 domain gate on the tail, the end-biased product-sum fold in
    HUGEINT, and the (product desc, key desc) argmax."""
    lt, lk = left
    rt, rk = right

    def keyed(table: str, key: str) -> str:
        return (
            f"SELECT CAST({key} AS VARCHAR) AS k FROM {table} "
            f"WHERE {key} IS NOT NULL"
        )

    gate = f"({_u32_sql(chr(39) + 'jse:' + chr(39) + ' || k')}) % {mod} < {keep}"
    return f"""
WITH la AS ({keyed(lt, lk)}),
rb AS ({keyed(rt, rk)}),
hot AS (
  SELECT k FROM la GROUP BY k HAVING count(*) * {hh_k} > (SELECT count(*) FROM la)
  UNION
  SELECT k FROM rb GROUP BY k HAVING count(*) * {hh_k} > (SELECT count(*) FROM rb)
),
hj AS (
  SELECT a.k, CAST(a.n AS HUGEINT) * b.n AS p, TRUE AS ex FROM
    (SELECT k, count(*) AS n FROM la WHERE k IN (SELECT k FROM hot) GROUP BY k) a
    JOIN
    (SELECT k, count(*) AS n FROM rb WHERE k IN (SELECT k FROM hot) GROUP BY k) b
    USING (k)
),
tj AS (
  SELECT a.k, CAST(a.n AS HUGEINT) * b.n AS p, FALSE AS ex FROM
    (SELECT k, count(*) AS n FROM la
     WHERE {gate} AND k NOT IN (SELECT k FROM hot) GROUP BY k) a
    JOIN
    (SELECT k, count(*) AS n FROM rb
     WHERE {gate} AND k NOT IN (SELECT k FROM hot) GROUP BY k) b
    USING (k)
),
allp AS (SELECT * FROM hj UNION ALL SELECT * FROM tj),
am AS (SELECT k FROM allp ORDER BY p DESC, k DESC LIMIT 1)
SELECT CAST(count(*) FILTER (WHERE ex) AS BIGINT) AS n_hot_keys,
       CAST(COALESCE(sum(p) FILTER (WHERE ex), 0) AS BIGINT) AS hot_pairs,
       CAST(count(*) FILTER (WHERE NOT ex) AS BIGINT) AS n_sample_keys,
       CAST(COALESCE(sum(p) FILTER (WHERE NOT ex), 0) AS BIGINT) AS sample_pairs,
       CAST(COALESCE(sum(p) FILTER (WHERE ex), 0)
            + COALESCE(sum(p) FILTER (WHERE NOT ex), 0) * {mod} // {keep}
            AS BIGINT) AS est_join_rows,
       CAST(COALESCE(max(p), 0) AS BIGINT) AS max_key_pairs,
       (SELECT k FROM am) AS hot_key
FROM allp
"""


def _budget_mix_oracle(w_micro: dict[str, int], budget: int) -> str:
    """Mirror of q_corpus_budget_mix / corpus.budget_mix: per-lang token
    availability, the integer fill-ratio sort ((avail·1e6) div w; ties
    avail, group), the two prefix sums, the cross-multiplied capped rule
    avail·W_from ≤ w·(B − pre_avail), the floored residual split for
    uncapped groups, and the per-lang (md5(id), id) exclusive-cumsum
    prefix selection — all integer, HUGEINT products."""
    B = int(budget)
    vals = ", ".join(f"('{k}', {int(v)})" for k, v in w_micro.items())
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(list_filter({_DOC_TOKENS}, x -> x <> '')) AS BIGINT)
           AS n_tokens
  FROM documents),
w(grp, w_micro) AS (VALUES {vals}),
avail AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS avail
          FROM toks GROUP BY lang),
g AS (
  SELECT a.lang, a.avail, w.w_micro,
         (CAST(a.avail AS HUGEINT) * 1000000) // w.w_micro AS quot
  FROM avail a JOIN w ON a.lang = w.grp),
s AS (
  SELECT lang, avail, w_micro,
         COALESCE(SUM(avail) OVER (ORDER BY quot, avail, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_avail,
         SUM(w_micro) OVER (ORDER BY quot, avail, lang
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_from
  FROM g),
c AS (
  SELECT *, CAST(avail AS HUGEINT) * w_from
            <= CAST(w_micro AS HUGEINT) * ({B} - pre_avail) AS capped
  FROM s),
tot AS (
  SELECT COALESCE(SUM(avail) FILTER (WHERE capped), 0) AS capped_avail,
         COALESCE(SUM(w_micro) FILTER (WHERE NOT capped), 0) AS w_final
  FROM c),
tgt AS (
  SELECT lang,
         CASE WHEN capped THEN avail
              ELSE CAST(CAST(w_micro AS HUGEINT) * ({B} - capped_avail)
                        // w_final AS BIGINT) END AS target
  FROM c, tot),
cum AS (
  SELECT t.doc_id, t.lang, t.n_tokens,
         COALESCE(SUM(t.n_tokens) OVER (PARTITION BY t.lang
           ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
  FROM toks t)
SELECT c2.doc_id, c2.lang, c2.n_tokens
FROM cum c2 JOIN tgt USING (lang)
WHERE c2.excl < tgt.target
"""


def _robust_outliers_oracle(
    resolution: float, k_milli: int, group: str = "event_type"
) -> str:
    """Replay of q_events_robust_outliers: floor-quantized value cells,
    the per-group median cell (smallest cell whose CDF reaches
    ceil(0.5·n) — the _hist_quantiles_oracle rule), integer deviation
    cells, the deviation median (MAD), and the cross-multiplied flag —
    all integers past the shared grid quantizer."""
    inv = 1.0 / resolution
    return f"""
WITH xs AS (
  SELECT event_id, {group},
         CASE WHEN value IS NOT NULL
              THEN CAST(floor(value * {inv}) AS BIGINT) END AS xc
  FROM events),
h AS (SELECT {group}, xc AS cell, count(*) AS c
      FROM xs WHERE xc IS NOT NULL GROUP BY 1, 2),
medc AS (
  SELECT {group}, min(cell) AS medc FROM (
    SELECT {group}, cell,
           sum(c) OVER (PARTITION BY {group} ORDER BY cell) AS cum,
           sum(c) OVER (PARTITION BY {group}) AS n
    FROM h) WHERE cum >= ceil(0.5 * n) GROUP BY 1),
dev AS (
  SELECT x.event_id, x.{group},
         CASE WHEN x.xc IS NOT NULL THEN abs(x.xc - m.medc) END AS dev
  FROM xs x JOIN medc m USING ({group})),
dh AS (SELECT {group}, dev AS cell, count(*) AS c
       FROM dev WHERE dev IS NOT NULL GROUP BY 1, 2),
madc AS (
  SELECT {group}, min(cell) AS madc FROM (
    SELECT {group}, cell,
           sum(c) OVER (PARTITION BY {group} ORDER BY cell) AS cum,
           sum(c) OVER (PARTITION BY {group}) AS n
    FROM dh) WHERE cum >= ceil(0.5 * n) GROUP BY 1)
SELECT d.event_id, d.{group},
       CAST(d.dev AS BIGINT) AS dev_cells,
       CAST(ma.madc AS BIGINT) AS mad_cells,
       COALESCE(1000 * d.dev > {int(k_milli)} * ma.madc, FALSE) AS is_outlier
FROM dev d JOIN madc ma USING ({group})
"""


def _vocab_drift_oracle(top_k: int, min_total: int) -> str:
    """Mirror of q_corpus_vocab_drift: both simulated snapshots, the union
    vocabulary, add-1 smoothed log-probs round-6 quantized to integer
    micro-nats PER SIDE before the subtraction (textstats.vocab_drift's
    cross-engine discipline), the min_total floor and the deterministic
    (|drift| desc, token) top-k cut."""
    return f"""
WITH old_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
new_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' driftmarker' ELSE text END AS text
  FROM documents WHERE doc_id % 5 <> 0),
tok AS (
  SELECT lower(t) AS tok, FALSE AS is_new
  FROM (SELECT unnest(list_filter({_DOC_TOKENS}, x -> x <> '')) AS t
        FROM old_docs)
  UNION ALL
  SELECT lower(t) AS tok, TRUE AS is_new
  FROM (SELECT unnest(list_filter({_DOC_TOKENS}, x -> x <> '')) AS t
        FROM new_docs)
),
counts AS (
  SELECT tok,
         count(*) FILTER (WHERE NOT is_new) AS n_old,
         count(*) FILTER (WHERE is_new) AS n_new
  FROM tok GROUP BY tok
),
tots AS (
  SELECT CAST(sum(n_old) AS DOUBLE) AS t_o,
         CAST(sum(n_new) AS DOUBLE) AS t_n,
         CAST(count(*) AS DOUBLE) AS v
  FROM counts
),
scored AS (
  SELECT tok AS token,
         CAST(n_old AS BIGINT) AS n_old,
         CAST(n_new AS BIGINT) AS n_new,
         CAST(round(round(ln((n_new + 1) / (t_n + v)), 6) * 1000000.0) AS BIGINT)
         - CAST(round(round(ln((n_old + 1) / (t_o + v)), 6) * 1000000.0) AS BIGINT)
           AS drift_micro
  FROM counts, tots
  WHERE n_old + n_new >= {min_total}
)
SELECT token, n_old, n_new, drift_micro
FROM scored ORDER BY abs(drift_micro) DESC, token LIMIT {top_k}
"""


def _fuzzy_decontam_oracle(
    threshold: float = 0.2, n_hashes: int = 32, bands: int = 8
) -> str:
    """Mirror of q_doc_fuzzy_decontam: rebuilds dedup.fuzzy_decontaminate's
    (hash_impl='md5') cross-corpus candidate structure — shingles, seeded
    min-md5 signatures, band keys, the corpus×bench (band, bkey) join, the
    cross-multiplied integer Jaccard verify and the per-doc hit fold — with
    no knowledge of the broadcast execution shape."""
    rpb = n_hashes // bands
    t_micro = int(round(threshold * 1_000_000))
    band_arms = "\n  UNION ALL ".join(
        "SELECT id, is_bench, sh, {b} AS band,"
        " md5(array_to_string(sig[{lo}:{hi}], ',')) AS bkey FROM sigs".format(
            b=b, lo=b * rpb + 1, hi=(b + 1) * rpb
        )
        for b in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1') AS is_bench,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, len(toks) - 1)]) AS sh
  FROM (SELECT doc_id, {_DOC_TOKENS} AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT id, is_bench, sh,
         [list_min([md5('mh' || CAST(j AS VARCHAR) || ':' || s) FOR s IN sh])
          FOR j IN range(0, {n_hashes})] AS sig
  FROM base
),
banded AS (
  {band_arms}
),
cand AS (
  SELECT DISTINCT c.id AS cid, b.id AS bid, c.sh AS sh_c, b.sh AS sh_b
  FROM banded c JOIN banded b ON c.band = b.band AND c.bkey = b.bkey
  WHERE NOT c.is_bench AND b.is_bench
),
scored AS (
  SELECT cid,
         CAST(len(list_intersect(sh_c, sh_b)) AS BIGINT) AS i,
         CAST(len(sh_c) + len(sh_b) - len(list_intersect(sh_c, sh_b)) AS BIGINT) AS u
  FROM cand
),
hits AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_bench_hits,
         CAST(max((1000000 * i) // u) AS BIGINT) AS max_jaccard_micro
  FROM scored WHERE 1000000 * i >= {t_micro} * u GROUP BY cid
)
SELECT d.doc_id, h.cid IS NOT NULL AS contaminated,
       COALESCE(h.n_bench_hits, 0) AS n_bench_hits, h.max_jaccard_micro
FROM documents d LEFT JOIN hits h ON h.cid = d.doc_id
WHERE NOT (substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) IN ('0', '1'))
"""


def _minhash_md5_oracle(
    threshold: float = 0.2, n_hashes: int = 32, bands: int = 8
) -> str:
    """Mirror of dedup.minhash_lsh_pairs(hash_impl='md5'): the shared
    candidate CTEs + exact Jaccard verify — every step verbatim-computable
    in DuckDB."""
    return f"""
WITH {_minhash_cand_ctes(n_hashes, bands).strip()},
scored AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
  FROM cand
)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM scored WHERE jaccard >= {threshold}
"""


def _interval_lookup_oracle() -> str:
    """Mirror of q_events_interval_lookup: the same interval dim as VALUES,
    [s, e) containment, latest-start (then label) argmax, NULL-label rows
    kept by the LEFT join, final count fold."""
    vals = ",\n    ".join(
        f"(TIMESTAMP '{s}', TIMESTAMP '{e}', '{lab}')"
        for s, e, lab in INTERVAL_DIM
    )
    return f"""
WITH iv(s, e, lab) AS (
  VALUES
    {vals}
),
m AS (
  SELECT ev.event_id, i.lab,
         row_number() OVER (
           PARTITION BY ev.event_id ORDER BY i.s DESC, i.lab DESC) AS rn
  FROM events ev JOIN iv i ON i.s <= ev.ts AND ev.ts < i.e
)
SELECT l.lab AS interval_label, count(*) AS n
FROM events ev LEFT JOIN (SELECT event_id, lab FROM m WHERE rn = 1) l
  USING (event_id)
GROUP BY 1
"""


def _overlap_matrix_oracle(
    threshold: float = 0.2, n_hashes: int = 32, bands: int = 8
) -> str:
    """Mirror of q_corpus_overlap_matrix: the SAME candidate CTEs + exact
    Jaccard verify as the md5 minhash oracle, then the canonical
    least/greatest source-cell fold."""
    return f"""
WITH {_minhash_cand_ctes(n_hashes, bands).strip()},
scored AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
  FROM cand
),
p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= {threshold})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
GROUP BY 1, 2
"""


def _lev_neardup_oracle(
    max_dist: int, n_hashes: int = 32, bands: int = 8
) -> str:
    """Mirror of q_doc_lev_neardup: the SAME candidate CTEs as the minhash
    oracle, verified by character edit distance instead of Jaccard —
    DuckDB's unbounded levenshtein filtered to the bound replays Spark's
    bounded-DP variant exactly (wherever Spark returns d <= max_dist, the
    value is the true distance)."""
    return f"""
WITH {_minhash_cand_ctes(n_hashes, bands).strip()}
SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev_dist
FROM cand
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
WHERE levenshtein(da.text, db.text) <= {int(max_dist)}
"""


def _chunks_oracle(max_tokens: int, overlap: int, min_tokens: int) -> str:
    """Independent recompute of q_doc_chunks: tokenization, stride window
    starts, the two keep rules (a trailing window adding no new tokens is
    dropped; windows under min_tokens are dropped) and the single-space
    re-join, from first principles in DuckDB list algebra."""
    stride = max_tokens - overlap
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter({_DOC_TOKENS}, x -> x <> '') AS t FROM documents),
st AS (
  SELECT doc_id, t, len(t) AS n, unnest(range(0, len(t), {stride})) AS s
  FROM toks WHERE len(t) > 0)
SELECT doc_id, CAST(s // {stride} AS INT) AS chunk_id,
       CAST(least({max_tokens}, n - s) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, s + 1, s + {max_tokens}), ' ') AS text
FROM st
WHERE (s = 0 OR n - s > {overlap}) AND least({max_tokens}, n - s) >= {min_tokens}
"""


def _pack_sequences_oracle(seq_len: int, order_col: str | None = None) -> str:
    """Independent recompute of q_corpus_pack_sequences: tokenization, the
    md5(id)-ordered EXCLUSIVE global cumsum (ONE true global window — the
    Spark side's 256-bucket two-phase must equal it), the per-doc sequence
    range and the boundary-splitting segment arithmetic, in DuckDB list
    algebra with all-integer offsets.  ``order_col`` prepends the grouping
    dimension to the stream order (q_corpus_pack_bylang's group-coherent
    variant — the |groups|x256-bucket two-phase must equal THIS window)."""
    L = int(seq_len)
    osel = f"d.{order_col}, " if order_col else ""
    oby = f"{order_col}, " if order_col else ""
    # NULLS FIRST pins DuckDB to Spark's ASC default (NULLS FIRST) —
    # without it a NULL group value reorders the whole packed stream.
    osort = f"{order_col} NULLS FIRST, " if order_col else ""
    return f"""
WITH toks AS (
  SELECT d.doc_id, {osel}list_filter({_DOC_TOKENS}, x -> x <> '') AS t
  FROM documents d),
o AS (
  SELECT doc_id, {oby.replace('d.', '')}t, CAST(len(t) AS BIGINT) AS n,
         md5(CAST(doc_id AS VARCHAR)) AS pk
  FROM toks WHERE len(t) > 0),
c AS (
  SELECT doc_id, t, n,
         CAST(COALESCE(SUM(n) OVER (ORDER BY {osort}pk, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS goff
  FROM o),
segs AS (
  SELECT doc_id, t, n, goff,
         unnest(range(goff // {L}, (goff + n - 1) // {L} + 1)) AS q
  FROM c)
SELECT doc_id,
       CAST(q AS BIGINT) AS seq_id,
       CAST(greatest(goff - q*{L}, 0) AS BIGINT) AS start_in_seq,
       CAST(greatest(q*{L} - goff, 0) AS BIGINT) AS tok_start,
       CAST((least((q+1)*{L}, goff+n) - goff) - greatest(q*{L} - goff, 0)
            AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, greatest(q*{L} - goff, 0) + 1,
                                  least((q+1)*{L}, goff+n) - goff), ' ') AS text
FROM segs
"""


def _cap_group_oracle(group_col: str, cap: int) -> str:
    """Independent recompute of q_corpus_cap_group: one rank window per
    group over (md5(id), id) with rank <= cap — the oracle need not mirror
    the Spark side's under-cap broadcast bypass, only its semantics."""
    return f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY {group_col}
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) WHERE rk <= {int(cap)}
"""


_ASOF_ORACLE = """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS asof_ts, r.value AS asof_value, r.event_id AS asof_event_id
FROM (SELECT * FROM events WHERE event_type = 'error') l
LEFT JOIN LATERAL (
  SELECT ts, value, event_id FROM events r
  WHERE r.event_type = 'purchase' AND r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1
) r ON true
"""


def _sliding_oracle(window_sec: int, slide_sec: int) -> str:
    """Brute-force hopping-window replay: every event is exploded into all
    window_sec/slide_sec epoch-aligned window starts covering it (the grid
    Spark's F.window uses), then counted per (start, event_type)."""
    n = window_sec // slide_sec
    return f"""
SELECT to_timestamp(start) AS window_start,
       to_timestamp(start + {window_sec}) AS window_end,
       event_type, count(*) AS n
FROM (
  SELECT event_type,
         (CAST(floor(epoch(ts) / {slide_sec}) AS BIGINT) * {slide_sec})
           - {slide_sec} * i AS start
  FROM events, UNNEST(range(0, {n})) AS t(i)
)
GROUP BY 1, 2, 3
"""


def _funnel_oracle(steps: list[str]) -> str:
    """Chained-min recompute of the greedy funnel scan: step i is matched at
    the MIN (ts, event_id) of its type strictly after step i-1's match —
    provably identical to the Spark side's single-pass aggregate lambda
    (which advances at most one step per event in the same scan order)."""
    ctes, prev = [], None
    for i, s in enumerate(steps, start=1):
        after = (
            f" AND ROW(e.ts, e.event_id) > s{i-1}.m" if prev else ""
        )
        join = f" JOIN s{i-1} ON e.user_id = s{i-1}.user_id" if prev else ""
        ctes.append(
            f"""s{i} AS (
  SELECT e.user_id, min(ROW(e.ts, e.event_id)) AS m
  FROM events e{join}
  WHERE e.event_type = '{s}'{after}
  GROUP BY e.user_id
)"""
        )
        prev = s
    n = len(steps)
    case = " ".join(
        f"WHEN s{i}.user_id IS NOT NULL THEN {i}" for i in range(n, 0, -1)
    )
    left_joins = " ".join(f"LEFT JOIN s{i} USING (user_id)" for i in range(1, n + 1))
    return f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
{", ".join(ctes)}
SELECT u.user_id, CAST(CASE {case} ELSE 0 END AS INT) AS steps_completed
FROM u {left_joins}
"""


_BLOOM_JOIN_ORACLE = """
WITH dims AS (
  SELECT DISTINCT user_id, 'u' || CAST(user_id AS VARCHAR) AS tag
  FROM events WHERE user_id % 17 = 0
)
SELECT e.event_id, e.user_id, e.event_type, d.tag
FROM events e JOIN dims d USING (user_id)
"""


def _rolling_oracle(n: int) -> str:
    """Replay of timeseries.rolling_stats: trailing-n window per user in
    (ts, event_id) order; sum over integer micro-units."""
    return f"""
SELECT user_id, ts, event_id,
       count(micro) OVER w AS roll_n,
       CAST(sum(micro) OVER w AS BIGINT) AS roll_sum_micro,
       min(value) OVER w AS roll_min,
       max(value) OVER w AS roll_max
FROM (SELECT *, CAST(round(value * 1e6) AS BIGINT) AS micro FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
"""


def _weighted_sample_oracle(k: int) -> str:
    """Replay of corpus.weighted_sample (Efraimidis-Spirakis A-Res):
    u = ('ws:'-domain md5-u16 + 0.5)/65536, key = round(u^(1/w), 6),
    top-k by (key desc, id)."""
    u16 = _u16_sql("'ws:' || CAST(doc_id AS STRING)")
    return f"""
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
         round(pow((({u16}) + 0.5) / 65536.0,
                   1.0 / CAST(n_chars AS DOUBLE)), 6) AS wkey
  FROM documents
)
ORDER BY wkey DESC, doc_id ASC LIMIT {k}
"""


_SNAPSHOT_DIFF_ORACLE = """
WITH o AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 7 <> 0
),
n AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.text IS NOT DISTINCT FROM n.text
             AND o.lang IS NOT DISTINCT FROM n.lang
             AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def _hard_negatives_oracle(k: int) -> str:
    """Mirror of q_embed_hard_negatives: round-6 unit dot over all
    (anchor, corpus) pairs with differing labels, (score desc, id asc)
    rank window, top-k."""
    return f"""
WITH {_UNIT_VEC.strip()},
lab AS (SELECT vec_id, label FROM embeddings),
q AS (
  SELECT u.vec_id AS query_id, l.label AS qlab, u.unit AS qvec
  FROM unitv u JOIN lab l ON u.vec_id = l.vec_id
  WHERE u.vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
         round(list_inner_product(q.qvec, c.unit), 6) AS score
  FROM q JOIN unitv c ON true
  JOIN lab cl ON c.vec_id = cl.vec_id
  WHERE cl.label <> q.qlab
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, corpus_id) AS rank
  FROM scored
)
SELECT query_id, corpus_id, score, rank FROM ranked WHERE rank <= {k}
"""


def _hex14_sql(expr: str) -> str:
    """Leading 14 hex chars of an EXISTING hex string as a BIGINT —
    the _u56_sql nibble decode without the md5 (for columns already
    holding a digest)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (13 - i)}"
        for i in range(14)
    )


def _u56_sql(expr: str) -> str:
    """Leading 56 bits of md5(expr) as BIGINT — mirrors sketches.h56's
    conv(substr(md5, 1, 14), 16, 10) via strpos nibble decoding."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (13 - i)}"
        for i in range(14)
    )


def _kmv_oracle(k: int) -> str:
    """Independent recompute of q_events_kmv_distinct: distinct md5-u56 hashes,
    per-group bottom-k rank, and the exact integer estimator
    (k-1)·2^56 // kth (or the sketch size when it never filled)."""
    numer = (k - 1) * (1 << 56)
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, ({_u56_sql('CAST(user_id AS VARCHAR)')}) AS h
  FROM events
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM h
),
s AS (
  SELECT event_type, count(*) AS m, max(h) AS kth
  FROM r WHERE rk <= {k} GROUP BY event_type
)
SELECT event_type,
       CAST(CASE WHEN m < {k} THEN m ELSE {numer} // kth END AS BIGINT)
         AS est_distinct
FROM s
"""


def _hll_branch_sql(col_expr: str, out: str, p: int) -> str:
    """One HLL estimate branch (registers → S/V → raw/linear-counting)
    per event_type, mirroring sketches.hll_sketch + hll_estimate: same
    md5-u56 hash, bit-length rho via unpadded bin(), HUGEINT register
    sum, integer micro-unit alpha and a literal micro-nat ln(m/V) table."""
    import math

    m, w = 1 << p, 56 - p
    r_cap = w + 1
    from log_analysis_spark.operators.sketches import _hll_alpha_micro

    numer = _hll_alpha_micro(m) * m * m * (1 << r_cap)
    ln_micro = ", ".join(
        str(round(math.log(m / v) * 1_000_000)) for v in range(1, m + 1)
    )
    u56 = _u56_sql(col_expr)
    return f"""
h_{out} AS (
  SELECT event_type, ({u56}) AS h FROM events
),
reg_{out} AS (
  SELECT event_type, h // {1 << w} AS bucket,
         max(CASE WHEN h % {1 << w} = 0 THEN {r_cap}
                  ELSE {r_cap} - length(bin(h % {1 << w})) END) AS rho
  FROM h_{out} GROUP BY 1, 2
),
s_{out} AS (
  SELECT event_type,
         sum(CAST(1::BIGINT << ({r_cap} - rho) AS HUGEINT))
           + CAST('{1 << r_cap}' AS HUGEINT) * ({m} - count(*)) AS s,
         {m} - count(*) AS v
  FROM reg_{out} GROUP BY 1
),
raw_{out} AS (
  SELECT event_type, v,
         CAST('{numer}' AS HUGEINT) // (s * 1000000) AS raw
  FROM s_{out}
),
e_{out} AS (
  SELECT event_type,
         CAST(CASE WHEN v > 0 AND 2 * raw <= {5 * m}
              THEN CAST({m} AS BIGINT)
                   * ([{ln_micro}])[CAST(v AS INT)] // 1000000
              ELSE raw END AS BIGINT) AS {out}
  FROM raw_{out}
)"""


def _hll_oracle(p: int) -> str:
    return f"""
WITH {_hll_branch_sql("CAST(user_id AS VARCHAR)", "est_users", p)},
{_hll_branch_sql("CAST(event_id AS VARCHAR)", "est_events", p).lstrip()}
SELECT u.event_type, u.est_users, e.est_events
FROM e_est_users u JOIN e_est_events e USING (event_type)
"""


def _fuzzy_sim_sql(a: str, b: str) -> str:
    """One field's length-normalized Levenshtein similarity in integer
    micro-units — the exact mirror of joins.fuzzy_match's per-field
    expression."""
    return (
        f"(CASE WHEN {a} IS NULL OR {b} IS NULL THEN 0 "
        f"ELSE 1000000 - CAST(levenshtein({a}, {b}) AS BIGINT) * 1000000 "
        f"// greatest(length({a}), length({b}), 1) END)"
    )


def _fuzzy_match_oracle(threshold: int = 800_000) -> str:
    """Mirror of q_customer_fuzzy_match: identical clean/dirty builds,
    nation blocking, weighted integer score, rank-1 per left."""
    return f"""
WITH clean AS (
  SELECT c_custkey, c_name, c_nationkey,
         'addr-' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS addr
  FROM customer
),
dirty AS (
  SELECT c_custkey + 1000000 AS d_id,
         regexp_replace(c_name, 'Customer', 'Custmer') AS d_name,
         c_nationkey,
         CASE WHEN c_custkey % 5 = 0 THEN reverse(addr)
              ELSE substr(addr, 1, 10) || 'zz' END AS d_addr
  FROM clean
),
scored AS (
  SELECT l.c_custkey, r.d_id,
         (600000 * {_fuzzy_sim_sql("l.c_name", "r.d_name")}
          + 400000 * {_fuzzy_sim_sql("l.addr", "r.d_addr")}) // 1000000
           AS score_micro
  FROM clean l JOIN dirty r USING (c_nationkey)
),
best AS (
  SELECT c_custkey, d_id, score_micro,
         row_number() OVER (
           PARTITION BY c_custkey ORDER BY score_micro DESC, d_id
         ) AS rn
  FROM scored WHERE score_micro >= {threshold}
)
SELECT c_custkey, d_id, CAST(score_micro AS BIGINT) AS score_micro
FROM best WHERE rn = 1
"""


def _burst_hours_oracle(n: int = 24, z: int = 3) -> str:
    """Mirror of q_events_burst_hours: hourly counts, per-key dense hour
    spine (generate_series), trailing-n window sums, and the identical
    integer z-test with HUGEINT products."""
    return f"""
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM sp LEFT JOIN c ON c.key = sp.key AND c.hour_id = sp.hour_id
),
t AS (
  SELECT key, hour_id, cnt,
         count(*) OVER w AS m,
         sum(cnt) OVER w AS s,
         sum(cnt * cnt) OVER w AS ss
  FROM dense
  WINDOW w AS (PARTITION BY key ORDER BY hour_id
               ROWS BETWEEN {n} PRECEDING AND 1 PRECEDING)
)
SELECT key AS event_type, hour_id, cnt,
       CASE WHEN {n} * cnt - s > 0 THEN 'spike' ELSE 'drop' END AS anomaly
FROM t
WHERE m = {n}
  AND CAST({n} * cnt - s AS HUGEINT) * ({n} * cnt - s)
      > {z * z} * ({n} * CAST(ss AS HUGEINT) - CAST(s AS HUGEINT) * s)
"""


_TEMPLATE_CTES = """
toks AS (
  SELECT conv_id, turn_idx, text,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
           t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '<#>' ELSE t END
         ) AS tk
  FROM transcripts
),
b AS (SELECT conv_id, turn_idx, text, tk,
             len(tk) AS n_tok, tk[1] AS head FROM toks),
pos AS (
  SELECT n_tok, head, unnest(tk) AS tok,
         unnest(range(1, len(tk) + 1)) AS pos
  FROM b
),
agg AS (
  SELECT n_tok, head, pos, count(DISTINCT tok) AS nd, min(tok) AS tok0
  FROM pos GROUP BY 1, 2, 3
),
tt AS (
  SELECT n_tok, head,
         string_agg(CASE WHEN nd = 1 THEN tok0 ELSE '<*>' END,
                    ' ' ORDER BY pos) AS template,
         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_wild
  FROM agg GROUP BY 1, 2
),
cnt AS (
  SELECT n_tok, head, count(*) AS n_lines FROM b GROUP BY 1, 2
)
"""


def _templates_oracle() -> str:
    return oracles.on_transcripts(
        f""", {_TEMPLATE_CTES.strip()}
SELECT template, CAST(tt.n_tok AS INT) AS n_tok, n_wild, n_lines
FROM tt JOIN cnt USING (n_tok, head)"""
    )


def _rare_templates_oracle(min_lines: int) -> str:
    return oracles.on_transcripts(
        f""", {_TEMPLATE_CTES.strip()}
SELECT b.conv_id, b.turn_idx, b.text, tt.template, cnt.n_lines
FROM b
JOIN tt USING (n_tok, head)
JOIN cnt USING (n_tok, head)
WHERE cnt.n_lines < {min_lines}"""
    )


def _cusum_oracle(k_milli: int = 300, h_mult: int = 2) -> str:
    """Mirror of q_events_cusum_drift: the dense hour spine, per-key
    full-window totals, the 1000·n-scaled integer CUSUM via the
    reflection identity (prefix sum − clamped prefix min), and the same
    h·mean threshold — all HUGEINT, no float, no division except the
    final milli-mean integral division."""
    return f"""
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM sp LEFT JOIN c ON c.key = sp.key AND c.hour_id = sp.hour_id
),
based AS (
  SELECT key, hour_id, cnt,
         CAST(count(*) OVER (PARTITION BY key) AS HUGEINT) AS n,
         CAST(sum(cnt) OVER (PARTITION BY key) AS HUGEINT) AS s
  FROM dense
),
x AS (
  SELECT key, hour_id, cnt, s,
         1000 * n * cnt - (1000 + {k_milli}) * s AS xu,
         (1000 - {k_milli}) * s - 1000 * n * cnt AS xd
  FROM based
),
pref AS (
  SELECT key, hour_id, cnt, s,
         sum(xu) OVER w AS pu, sum(xd) OVER w AS pd
  FROM x
  WINDOW w AS (PARTITION BY key ORDER BY hour_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cus AS (
  SELECT key, hour_id, cnt, s,
         pu - least(CAST(0 AS HUGEINT), min(pu) OVER w) AS cu,
         pd - least(CAST(0 AS HUGEINT), min(pd) OVER w) AS cd
  FROM pref
  WINDOW w AS (PARTITION BY key ORDER BY hour_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT key AS event_type, hour_id, cnt,
       CAST(cu // s AS BIGINT) AS cusum_up_mm,
       CAST(cd // s AS BIGINT) AS cusum_down_mm,
       CASE WHEN cu > {h_mult} * 1000 * s THEN 'up'
            WHEN cd > {h_mult} * 1000 * s THEN 'down' END AS drift
FROM cus
WHERE cu > {h_mult} * 1000 * s OR cd > {h_mult} * 1000 * s
"""


def _pettitt_oracle(alpha_micro: int | None = None) -> str:
    """Mirror of q_events_changepoint: dense hour spine, doubled mid-ranks
    (2r = 2·rank + ties − 1, exact integers under ties), hour-ordered
    prefix sums, U_t = |W2_t − t(n+1)|, argmax-earliest per key, and the
    cross-multiplied HUGEINT significance test — zero float anywhere."""
    a = timeseries.PETTITT_ALPHA_MICRO_05 if alpha_micro is None else alpha_micro
    return f"""
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM sp LEFT JOIN c ON c.key = sp.key AND c.hour_id = sp.hour_id
),
ranked AS (
  SELECT key, hour_id, cnt,
         2 * rank() OVER (PARTITION BY key ORDER BY cnt)
           + count(*) OVER (PARTITION BY key, cnt) - 1 AS r2,
         CAST(count(*) OVER (PARTITION BY key) AS HUGEINT) AS n,
         CAST(sum(cnt) OVER (PARTITION BY key) AS HUGEINT) AS stot
  FROM dense
),
pref AS (
  SELECT key, hour_id, n, stot,
         row_number() OVER (PARTITION BY key ORDER BY hour_id) AS t,
         sum(r2) OVER w AS w2,
         sum(cnt) OVER w AS sc
  FROM ranked
  WINDOW w AS (PARTITION BY key ORDER BY hour_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT key, n, stot, t, sc, hour_id,
         abs(CAST(w2 AS HUGEINT) - t * (n + 1)) AS u
  FROM pref WHERE t < n
),
best AS (
  SELECT key, n, stot, t, sc, hour_id, u,
         row_number() OVER (PARTITION BY key ORDER BY u DESC, t ASC) AS rn
  FROM scored
)
SELECT key AS event_type, hour_id AS cp_hour,
       CAST(n AS BIGINT) AS n_hours,
       CAST(u AS BIGINT) AS u_abs,
       CAST((1000 * CAST(sc AS HUGEINT)) // t AS BIGINT) AS mean_before_mc,
       CAST((1000 * (stot - sc)) // (n - t) AS BIGINT) AS mean_after_mc,
       6 * 1000000 * u * u > CAST({a} AS HUGEINT) * (n * n * n + n * n)
         AS significant
FROM best WHERE rn = 1
"""


def _heavy_hitters_oracle(k: int) -> str:
    """Mirror of q_doc_token_heavy_hitters: the exact definition is purely the
    multiset — every token with count * k strictly above the total
    occurrence count — so the oracle is the plain full groupBy the
    two-pass operator avoids."""
    return f"""
WITH {_TOK_OCC.strip()},
c AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
t AS (SELECT count(*) AS nt FROM tok)
SELECT tok AS item, CAST(n AS BIGINT) AS cnt FROM c, t WHERE n * {k} > nt
"""


_TIME_WEIGHTED_ORACLE = """
WITH seg AS (
  SELECT user_id, CAST(round(value * 1000000) AS BIGINT) AS v,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt
  FROM events
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(COALESCE(dt, 0)) AS BIGINT) AS span_us,
       CASE WHEN sum(COALESCE(dt, 0)) > 0 THEN
         CAST(sum(CAST(v AS HUGEINT) * COALESCE(dt, 0))
              // CAST(sum(COALESCE(dt, 0)) AS HUGEINT) AS BIGINT)
       END AS twa_micro
FROM seg GROUP BY user_id
"""


_GAPFILL_ORACLE = """
WITH g AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS sum_micro,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM g GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id, CAST(g.sum_micro // g.cnt AS BIGINT) AS obs
  FROM sp LEFT JOIN g ON g.key = sp.key AND g.hour_id = sp.hour_id
),
carried AS (
  SELECT key, hour_id, obs,
    last_value(obs IGNORE NULLS) OVER wb AS pv,
    last_value(CASE WHEN obs IS NOT NULL THEN hour_id END IGNORE NULLS)
      OVER wb AS ph,
    first_value(obs IGNORE NULLS) OVER wf AS nv,
    first_value(CASE WHEN obs IS NOT NULL THEN hour_id END IGNORE NULLS)
      OVER wf AS nh
  FROM dense
  WINDOW wb AS (PARTITION BY key ORDER BY hour_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY key ORDER BY hour_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key, hour_id,
       CAST(COALESCE(obs, pv + ((nv - pv) * (hour_id - ph)) // (nh - ph))
            AS BIGINT) AS v_micro,
       obs IS NULL AS interpolated
FROM carried
"""


def _seasonal_oracle(n_mad: int, period: int) -> str:
    """Mirror of q_events_seasonal: dense spine, slot = hour_id mod period,
    doubled exact medians (2x median of integers is integral), and the
    pure-integer MAD comparison 2*dev2 > n_mad*mad4."""
    return f"""
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id,
         CAST(sp.hour_id % {period} AS INTEGER) AS slot,
         CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM sp LEFT JOIN c ON c.key = sp.key AND c.hour_id = sp.hour_id
),
med AS (
  SELECT key, slot, CAST(round(2 * median(cnt)) AS BIGINT) AS med2
  FROM dense GROUP BY 1, 2
),
dev AS (
  SELECT dense.*, med.med2, abs(2 * dense.cnt - med.med2) AS dev2
  FROM dense JOIN med USING (key, slot)
),
mad AS (
  SELECT key, slot, CAST(round(2 * median(dev2)) AS BIGINT) AS mad4
  FROM dev GROUP BY 1, 2
)
SELECT dev.key AS event_type, dev.hour_id, dev.slot, dev.cnt, dev.med2,
       mad.mad4
FROM dev JOIN mad USING (key, slot)
WHERE 2 * dev.dev2 > {n_mad} * mad.mad4
"""


def _trend_oracle(z_milli: int) -> str:
    """Mirror of q_events_trend: brute-force pair double-loop over the
    dense spine (a DIFFERENT algorithm from the engine's blocked-numpy
    fold — agreement verifies the algebra, not a replay).  Negative-slope
    truncation toward zero is spelled with CASE/abs so DuckDB's ``//``
    floor semantics never touch a negative numerator; the odd-pair-count
    median row is doubled via the m%2 factor."""
    return f"""
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
sp AS (
  SELECT key, unnest(generate_series(mn, mx)) AS hour_id
  FROM (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY key)
),
dense AS (
  SELECT sp.key, sp.hour_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM sp LEFT JOIN c ON c.key = sp.key AND c.hour_id = sp.hour_id
),
pairs AS (
  SELECT a.key, b.cnt - a.cnt AS dy, b.hour_id - a.hour_id AS dx
  FROM dense a JOIN dense b ON a.key = b.key AND b.hour_id > a.hour_id
),
sstat AS (
  SELECT key,
         SUM(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1 ELSE 0 END) AS s
  FROM pairs GROUP BY key
),
slo AS (
  SELECT key,
         CASE WHEN dy >= 0 THEN (dy * 1000000) // dx
              ELSE -((-dy * 1000000) // dx) END AS sl
  FROM pairs
),
ranked AS (
  SELECT key, sl, row_number() OVER (PARTITION BY key ORDER BY sl) AS rn,
         count(*) OVER (PARTITION BY key) AS m
  FROM slo
),
med AS (
  SELECT key,
         CAST(SUM(sl * (CASE WHEN m % 2 = 1 THEN 2 ELSE 1 END)) AS BIGINT)
           AS med2
  FROM ranked WHERE rn = (m - 1) // 2 + 1 OR rn = m // 2 + 1
  GROUP BY key
),
tt AS (
  SELECT key, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT key, cnt, count(*) AS t FROM dense GROUP BY key, cnt)
  GROUP BY key
),
nn AS (SELECT key, count(*) AS n FROM dense GROUP BY key)
SELECT nn.key AS event_type, CAST(nn.n AS BIGINT) AS n_hours,
       CAST(sstat.s AS BIGINT) AS s_stat,
       CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tt.tie_term AS BIGINT)
         AS var_d,
       med.med2 AS slope_med2,
       (sstat.s <> 0 AND
        CAST(18000000 AS HUGEINT) * (abs(sstat.s) - 1) * (abs(sstat.s) - 1)
        > CAST({z_milli} AS HUGEINT) * {z_milli}
          * (nn.n * (nn.n - 1) * (2 * nn.n + 5) - tt.tie_term))
         AS significant,
       CASE WHEN sstat.s > 0 THEN 'up' WHEN sstat.s < 0 THEN 'down'
            ELSE 'flat' END AS direction
FROM nn
JOIN sstat USING (key) JOIN med USING (key) JOIN tt USING (key)
"""


def _rank_compare_oracle(group_a: str, group_b: str, z_milli: int) -> str:
    """Mirror of q_events_rank_compare: doubled mid-ranks from value
    cells, HUGEINT cross-multiplied tie-corrected significance."""
    return f"""
WITH vals AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         CASE WHEN event_type = '{group_a}' THEN 1 ELSE 0 END AS ia
  FROM events
  WHERE event_type IN ('{group_a}', '{group_b}') AND value IS NOT NULL
),
cells AS (SELECT v, SUM(ia) AS ca, SUM(1 - ia) AS cb FROM vals GROUP BY v),
ranked AS (
  SELECT v, ca, cb,
         COALESCE(SUM(ca + cb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS below,
         ca + cb AS t
  FROM cells
),
agg AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb,
         SUM(CAST(ca AS HUGEINT) * (2 * below + t + 1)) AS r2a,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS tcube
  FROM ranked
),
d AS (
  SELECT na, nb, na + nb AS n, r2a, tcube,
         r2a - na * (na + 1) AS u2,
         r2a - na * (na + 1) - CAST(na AS HUGEINT) * nb AS d2
  FROM agg
)
SELECT '{group_a}' AS group_a, '{group_b}' AS group_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(r2a AS BIGINT) AS r2_a, CAST(u2 AS BIGINT) AS u2_a,
       (CAST(3000000 AS HUGEINT) * d2 * d2 * n * (n - 1)
        > CAST({z_milli} AS HUGEINT) * {z_milli} * na * nb
          * (CAST(n AS HUGEINT) * (n - 1) * (n + 1) - tcube))
         AS significant,
       CASE WHEN d2 > 0 THEN 'a' WHEN d2 < 0 THEN 'b' ELSE 'tie' END
         AS higher
FROM d
"""


_KS_DRIFT_ORACLE = """
WITH tagged AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v, 1 AS ia
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  UNION ALL
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v, 0 AS ia
  FROM events WHERE event_type = 'signup' AND value IS NOT NULL
),
cells AS (SELECT v, SUM(ia) AS ca, SUM(1 - ia) AS cb FROM tagged GROUP BY v),
cum AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v) AS A,
         SUM(cb) OVER (ORDER BY v) AS B,
         SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
  FROM cells
),
gap AS (
  SELECT v, na, nb,
         abs(CAST(A AS HUGEINT) * nb - CAST(B AS HUGEINT) * na) AS g
  FROM cum
),
best AS (SELECT * FROM gap ORDER BY g DESC, v ASC LIMIT 1)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(g AS BIGINT) AS d_num,
       CAST((1000000 * g) // (CAST(na AS HUGEINT) * nb) AS BIGINT)
         AS d_micro,
       v AS at_v_micro,
       (CAST(1000000000000 AS HUGEINT) * g * g
        > CAST(1358000 AS HUGEINT) * 1358000 * (na + nb) * na * nb)
         AS significant
FROM best
"""


_ACF_ORACLE = """
WITH c AS (
  SELECT event_type AS key, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
b AS (SELECT key, min(hour_id) AS mn, max(hour_id) AS mx FROM c GROUP BY 1),
sp AS (SELECT key, unnest(generate_series(mn, mx)) AS hour_id FROM b),
d AS (
  SELECT sp.key, sp.hour_id, COALESCE(c.cnt, 0) AS cnt
  FROM sp LEFT JOIN c ON sp.key = c.key AND sp.hour_id = c.hour_id
),
led AS (
  SELECT key, cnt,
         lead(cnt, 1) OVER (PARTITION BY key ORDER BY hour_id) AS l1,
         lead(cnt, 24) OVER (PARTITION BY key ORDER BY hour_id) AS l24
  FROM d
),
agg AS (
  SELECT key, count(*) AS n, SUM(cnt) AS s,
         SUM(CAST(cnt AS HUGEINT) * cnt) AS ss,
         SUM(CAST(cnt AS HUGEINT) * l1) AS p1,
         SUM(CASE WHEN l1 IS NOT NULL THEN cnt END) AS a1, SUM(l1) AS b1,
         SUM(CAST(cnt AS HUGEINT) * l24) AS p24,
         SUM(CASE WHEN l24 IS NOT NULL THEN cnt END) AS a24, SUM(l24) AS b24
  FROM led GROUP BY key
),
lg AS (
  SELECT key, 1 AS lag, n,
         CAST(n AS HUGEINT) * n * p1 - CAST(n AS HUGEINT) * s * (a1 + b1)
           + CAST(n - 1 AS HUGEINT) * s * s AS num,
         CAST(n AS HUGEINT) * n * ss - CAST(n AS HUGEINT) * s * s AS den
  FROM agg
  UNION ALL
  SELECT key, 24, n,
         CAST(n AS HUGEINT) * n * p24 - CAST(n AS HUGEINT) * s * (a24 + b24)
           + CAST(n - 24 AS HUGEINT) * s * s,
         CAST(n AS HUGEINT) * n * ss - CAST(n AS HUGEINT) * s * s
  FROM agg
)
SELECT key AS event_type, lag, CAST(n AS BIGINT) AS n_hours,
       CASE WHEN den > 0 AND n > lag THEN
         CAST(CASE WHEN num >= 0 THEN (1000000 * num) // den
                   ELSE -((1000000 * (-num)) // den) END AS BIGINT)
       END AS acf_micro
FROM lg
"""


_ACTIVE_USERS_ORACLE = """
WITH pres AS (
  SELECT DISTINCT user_id AS u,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
mx AS (SELECT max(d) AS mx FROM pres),
expd AS (SELECT u, unnest(generate_series(d, d + 6)) AS day_id FROM pres)
SELECT day_id, count(DISTINCT u) AS active_users
FROM expd, mx WHERE day_id <= mx GROUP BY day_id
"""


_PSI_ORACLE = """
WITH ca_ AS (
  SELECT CAST(floor(CAST(round(value * 1000000) AS BIGINT) / 500000.0)
              AS BIGINT) AS bin, count(*) AS c
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1
),
cb_ AS (
  SELECT CAST(floor(CAST(round(value * 1000000) AS BIGINT) / 500000.0)
              AS BIGINT) AS bin, count(*) AS c
  FROM events WHERE event_type = 'signup' AND value IS NOT NULL GROUP BY 1
),
j AS (
  SELECT COALESCE(ca_.c, 0) + 1 AS ca, COALESCE(cb_.c, 0) + 1 AS cb
  FROM ca_ FULL OUTER JOIN cb_ ON ca_.bin = cb_.bin
),
t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS n_bins FROM j),
s AS (
  SELECT t.na, t.nb, t.n_bins,
    SUM((CAST(ca AS HUGEINT) * t.nb - CAST(cb AS HUGEINT) * t.na)
      * (CAST(round(ln(CAST(CAST(ca AS HUGEINT) * t.nb AS DOUBLE))
                    * 1000000) AS BIGINT)
       - CAST(round(ln(CAST(CAST(cb AS HUGEINT) * t.na AS DOUBLE))
                    * 1000000) AS BIGINT))) AS sm
  FROM j, t GROUP BY t.na, t.nb, t.n_bins
)
SELECT CAST(na - n_bins AS BIGINT) AS n_a,
       CAST(nb - n_bins AS BIGINT) AS n_b,
       CAST(n_bins AS BIGINT) AS n_bins,
       CAST(sm // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS psi_micro,
       (sm // (CAST(na AS HUGEINT) * nb)) > 200000 AS drifted
FROM s
"""


_BURN_RATE_ORACLE = """
WITH h AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id, count(*) AS tot,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
  FROM events GROUP BY 1
),
b AS (SELECT min(hour_id) AS mn, max(hour_id) AS mx FROM h),
sp AS (SELECT unnest(generate_series(mn, mx)) AS hour_id FROM b),
d AS (
  SELECT sp.hour_id, COALESCE(tot, 0) AS tot, COALESCE(err, 0) AS err
  FROM sp LEFT JOIN h ON sp.hour_id = h.hour_id
),
r AS (
  SELECT hour_id,
         SUM(tot) OVER (ORDER BY hour_id
           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS tot_long,
         SUM(err) OVER (ORDER BY hour_id
           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS err_long,
         tot AS tot_short, err AS err_short
  FROM d
)
SELECT hour_id, CAST(tot_long AS BIGINT) AS tot_long,
       CAST(err_long AS BIGINT) AS err_long,
       CAST((1000000 * CAST(err_long AS HUGEINT))
            // (CAST(tot_long AS HUGEINT) * 200) AS BIGINT)
         AS burn_long_milli,
       CAST(tot_short AS BIGINT) AS tot_short,
       CAST(err_short AS BIGINT) AS err_short,
       CAST((1000000 * CAST(err_short AS HUGEINT))
            // (CAST(tot_short AS HUGEINT) * 200) AS BIGINT)
         AS burn_short_milli
FROM r
WHERE tot_long > 0 AND tot_short > 0
  AND 1000000 * CAST(err_long AS HUGEINT)
      > 1000 * CAST(tot_long AS HUGEINT) * 200
  AND 1000000 * CAST(err_short AS HUGEINT)
      > 1000 * CAST(tot_short AS HUGEINT) * 200
"""


_CHI2_ORACLE = """
WITH cells AS (
  SELECT CAST(event_type AS VARCHAR) AS a,
         CAST(CAST(floor(hour(ts) / 6) AS BIGINT) AS VARCHAR) AS b,
         count(*) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY a) AS r,
         SUM(o) OVER (PARTITION BY b) AS c,
         SUM(o) OVER () AS n
  FROM cells
),
k AS (SELECT count(DISTINCT a) AS ka, count(DISTINCT b) AS kb FROM cells),
agg AS (
  SELECT SUM((CAST(o AS HUGEINT) * o * n * 1000000)
             // (CAST(r AS HUGEINT) * c)) AS s,
         MAX(n) AS n, count(*) AS n_cells
  FROM m
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
       CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
       CAST(s - CAST(n AS HUGEINT) * 1000000 AS BIGINT) AS chi2_micro,
       CAST((s - CAST(n AS HUGEINT) * 1000000)
            // (CAST(n AS HUGEINT) * (least(ka, kb) - 1)) AS BIGINT)
         AS v2_micro,
       (s - CAST(n AS HUGEINT) * 1000000) > 21026000 AS significant
FROM agg, k
"""


_AUC_ORACLE = """
WITH vals AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
cells AS (SELECT v, SUM(ia) AS ca, SUM(1 - ia) AS cb FROM vals GROUP BY v),
ranked AS (
  SELECT ca,
         COALESCE(SUM(ca + cb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS below,
         ca + cb AS t
  FROM cells
),
agg AS (
  SELECT SUM(ca) AS np, SUM(t - ca) AS nn,
         SUM(CAST(ca AS HUGEINT) * (2 * below + t + 1)) AS r2
  FROM ranked
)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       CAST(r2 - CAST(np AS HUGEINT) * (np + 1) AS BIGINT) AS u2_pos,
       CAST((1000000 * (r2 - CAST(np AS HUGEINT) * (np + 1)))
            // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS auc_micro
FROM agg
"""


_GINI_ORACLE = """
WITH pk AS (
  SELECT user_id, count(*) AS x FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
),
cells AS (SELECT x, count(*) AS m FROM pk GROUP BY x),
st AS (
  SELECT x, m,
         COALESCE(SUM(m) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS below,
         SUM(m) OVER () AS nk
  FROM cells
),
agg AS (
  SELECT MAX(nk) AS n_keys, SUM(CAST(x AS HUGEINT) * m) AS tot,
         SUM(CAST(x AS HUGEINT) * m * (2 * below + m - nk)) AS g
  FROM st
)
SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(tot AS BIGINT) AS total,
       CAST((1000000 * g) // (CAST(n_keys AS HUGEINT) * tot) AS BIGINT)
         AS gini_micro
FROM agg
"""


def _incidents_oracle(n: int = 24, z: int = 3) -> str:
    """Mirror of q_events_incidents: the burst oracle as a nested CTE,
    then the identical islands fold (hour_id − row_number constant within
    a consecutive run)."""
    return f"""
WITH flagged AS ({_burst_hours_oracle(n=n, z=z)}),
isl AS (
  SELECT event_type, hour_id, cnt, anomaly,
         hour_id - row_number() OVER (
           PARTITION BY event_type ORDER BY hour_id
         ) AS island
  FROM flagged
)
SELECT event_type, min(hour_id) AS start_hour, max(hour_id) AS end_hour,
       count(*) AS n_hours, max(cnt) AS peak_cnt,
       array_to_string(list_sort(list(DISTINCT anomaly)), ',') AS sides
FROM isl GROUP BY event_type, island
"""


def _profile_col_sql(c: str) -> str:
    """One column's profile row: the KMV distinct and histogram-CDF p50
    replayed inline as scalar subqueries."""
    numer = 63 * (1 << 56)
    u56 = _u56_sql(f"CAST({c} AS VARCHAR)")
    return f"""
SELECT '{c}' AS column, count(*) AS n,
       count(*) FILTER ({c} IS NULL) AS n_null,
       min(CAST({c} AS DOUBLE)) AS min, max(CAST({c} AS DOUBLE)) AS max,
       (WITH h AS (SELECT DISTINCT ({u56}) AS h FROM events
                   WHERE {c} IS NOT NULL),
             r AS (SELECT h, row_number() OVER (ORDER BY h) rk FROM h),
             s AS (SELECT count(*) AS m, max(h) AS kth FROM r WHERE rk <= 64)
        SELECT CAST(CASE WHEN m < 64 THEN m ELSE {numer} // kth END AS BIGINT)
        FROM s) AS est_distinct,
       (WITH hh AS (SELECT CAST(floor(CAST({c} AS DOUBLE) * 4.0) AS BIGINT)
                           AS cell, count(*) AS cc
                    FROM events WHERE {c} IS NOT NULL GROUP BY 1),
             cum AS (SELECT cell, sum(cc) OVER (ORDER BY cell) AS cum,
                            sum(cc) OVER () AS nn FROM hh)
        SELECT min(cell) * 0.25 FROM cum WHERE cum >= ceil(0.5 * nn)) AS p50
FROM events
"""


_PROFILE_ORACLE = (
    _profile_col_sql("value") + " UNION ALL " + _profile_col_sql("user_id")
)


def _kmv_setops_oracle(k: int) -> str:
    """Replay of q_events_kmv_setops: per-set u56 bottom-k, bottom-k of the
    union, m = union-k hashes present in both sketches, kk = |union
    sketch|, union_est via HUGEINT //, jaccard micro-units, intersection =
    round((m/kk) * union_est)."""
    numer = (k - 1) * (1 << 56)
    u56 = _u56_sql("CAST(event_id AS VARCHAR)")
    return f"""
WITH ha AS (
  SELECT DISTINCT ({u56}) AS h FROM events WHERE event_type = 'click'
),
hb AS (
  SELECT DISTINCT ({u56}) AS h FROM events WHERE value > 30
),
sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rk FROM ha) WHERE rk <= {k}),
sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rk FROM hb) WHERE rk <= {k}),
uk AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) rk
    FROM (SELECT h FROM sa UNION SELECT h FROM sb)
  ) WHERE rk <= {k}
),
stats AS (
  SELECT
    (SELECT count(*) FROM uk WHERE h IN (SELECT h FROM sa)
                               AND h IN (SELECT h FROM sb)) AS m,
    (SELECT count(*) FROM uk) AS kk,
    (SELECT max(h) FROM uk) AS kth
)
SELECT
  CAST(CASE WHEN kk < {k} THEN kk ELSE {numer} // kth END AS BIGINT) AS union_est,
  CAST(round((CAST(m AS DOUBLE) / CAST(kk AS DOUBLE))
       * CAST(CASE WHEN kk < {k} THEN kk ELSE {numer} // kth END AS DOUBLE))
       AS BIGINT) AS intersection_est,
  CAST((m * 1000000) // kk AS BIGINT) AS jaccard_micro
FROM stats
"""


def _cms_oracle(depth: int, width: int) -> str:
    """Independent recompute of q_events_cms_counts: the row-salted md5-u32
    bucket map, the depth×width counter table, and the min-over-rows
    point query — false positives (hash collisions) and all."""
    salt = "'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
    return f"""
WITH rb AS (
  SELECT user_id, r, ({_u32_sql(salt)}) % {width} AS bucket
  FROM events, UNNEST(range(0, {depth})) AS t(r)
),
sk AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY r, bucket),
prb AS (
  SELECT DISTINCT user_id, r, ({_u32_sql(salt)}) % {width} AS bucket
  FROM (SELECT DISTINCT user_id FROM events), UNNEST(range(0, {depth})) AS t(r)
)
SELECT prb.user_id, CAST(min(sk.cnt) AS BIGINT) AS est_count
FROM prb JOIN sk ON prb.r = sk.r AND prb.bucket = sk.bucket
GROUP BY prb.user_id
"""


def _winsorize_oracle(p_lo: float, p_hi: float, resolution: float) -> str:
    """Replay of q_events_winsorized: the hist_quantiles CDF cut per
    group (same cell math as _hist_quantiles_oracle), clip, aggregate."""
    inv = 1.0 / resolution
    return f"""
WITH h AS (
  SELECT event_type, CAST(floor(value * {inv}) AS BIGINT) AS cell,
         count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cell,
         sum(c) OVER (PARTITION BY event_type ORDER BY cell) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
band AS (
  SELECT event_type,
         min(CASE WHEN cum >= ceil({p_lo} * n) THEN cell END) * {resolution}
           AS lo,
         min(CASE WHEN cum >= ceil({p_hi} * n) THEN cell END) * {resolution}
           AS hi
  FROM cum GROUP BY event_type
),
clipped AS (
  SELECT e.event_type, e.value,
         CASE WHEN e.value IS NOT NULL
              THEN least(greatest(e.value, b.lo), b.hi) END AS vc
  FROM events e JOIN band b USING (event_type)
)
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN vc > value THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN vc < value THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       CAST(sum(CAST(round(CAST(vc AS DOUBLE) * 1000000) AS HUGEINT))
         AS BIGINT) AS sum_clipped_micro
FROM clipped GROUP BY event_type
"""


def _hist_quantiles_oracle(qs: list[float], resolution: float) -> str:
    """Replay of q_events_quantiles: floor-quantized cells, per-group CDF,
    q read as the smallest cell whose cumulative count reaches ceil(q·n)."""
    inv = 1.0 / resolution
    values = ", ".join(f"({q})" for q in sorted(set(qs)))
    return f"""
WITH h AS (
  SELECT event_type, CAST(floor(value * {inv}) AS BIGINT) AS cell,
         count(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cell,
         sum(c) OVER (PARTITION BY event_type ORDER BY cell) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
qs(q) AS (VALUES {values})
SELECT event_type, q, min(cell) * {resolution} AS value
FROM cum, qs WHERE cum >= ceil(q * n) GROUP BY event_type, q
"""


def _funnel_times_oracle(steps: list[str]) -> str:
    """q_events_funnel_times replay: the chained-min CTEs (identical to
    _funnel_oracle) also yield each step's match TIMESTAMP via
    struct_extract(min(ROW(ts, event_id)), 1)."""
    ctes, prev = [], None
    for i, s in enumerate(steps, start=1):
        after = f" AND ROW(e.ts, e.event_id) > s{i-1}.m" if prev else ""
        join = f" JOIN s{i-1} ON e.user_id = s{i-1}.user_id" if prev else ""
        ctes.append(
            f"""s{i} AS (
  SELECT e.user_id, min(ROW(e.ts, e.event_id)) AS m,
         struct_extract(min(ROW(e.ts, e.event_id)), 1) AS t
  FROM events e{join}
  WHERE e.event_type = '{s}'{after}
  GROUP BY e.user_id
)"""
        )
        prev = s
    n = len(steps)
    case = " ".join(
        f"WHEN s{i}.user_id IS NOT NULL THEN {i}" for i in range(n, 0, -1)
    )
    left_joins = " ".join(f"LEFT JOIN s{i} USING (user_id)" for i in range(1, n + 1))
    t_cols = ", ".join(f"s{i}.t AS t{i}" for i in range(1, n + 1))
    return f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
{", ".join(ctes)}
SELECT u.user_id, CAST(CASE {case} ELSE 0 END AS INT) AS steps_completed,
       {t_cols}
FROM u {left_joins}
"""


_EXPECTATIONS_ORACLE = """
WITH scan AS (
  SELECT
    count(*) FILTER (value IS NULL) AS nn,
    count(*) FILTER (event_type IS NULL
      OR event_type NOT IN ('click','view','purchase','signup')) AS av,
    count(*) FILTER (value IS NULL OR value < 0.0 OR value > 100.0) AS ir,
    greatest(0, 1000000000 - count(*)) AS mr
  FROM events
),
uq AS (
  SELECT COALESCE(sum(c - 1), 0) AS v FROM (
    SELECT event_id, count(*) AS c FROM events GROUP BY event_id
  ) WHERE c > 1
),
refv AS (
  SELECT count(*) AS v FROM events e
  WHERE e.user_id NOT IN (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
  )
),
rep(rule, violations) AS (
  SELECT 'not_null(value)', CAST(nn AS BIGINT) FROM scan
  UNION ALL SELECT 'accepted_values(event_type)', CAST(av AS BIGINT) FROM scan
  UNION ALL SELECT 'in_range(value)', CAST(ir AS BIGINT) FROM scan
  UNION ALL SELECT 'min_rows(1000000000)', CAST(mr AS BIGINT) FROM scan
  UNION ALL SELECT 'unique(event_id)', CAST(v AS BIGINT) FROM uq
  UNION ALL SELECT 'referential(user_id->signup_users)', CAST(v AS BIGINT) FROM refv
)
SELECT rule, violations, violations = 0 AS passed FROM rep
"""


_RETENTION_ORACLE = """
WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
c AS (SELECT user_id, min(w) AS cohort_week FROM uw GROUP BY user_id)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, uw.w) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM uw JOIN c USING (user_id) GROUP BY 1, 2
"""


def _pagerank_oracle(
    n_iters: int = 5, damping_pct: int = 85, scale: int = 10**9
) -> str:
    """Unrolled replay of q_graph_tool_pagerank's integer recurrence: edges from
    the lag window over tool-bearing turns, N and the teleport term derived
    in SQL (nothing precomputed on faith), each iteration one CTE with the
    HUGEINT (rank·w)//out_j contribution sum — bit-identical to Spark's
    DECIMAL(38,0) div at every step."""
    d = damping_pct
    iters = []
    for i in range(1, n_iters + 1):
        iters.append(f"""
r{i} AS (
  SELECT n.node,
         CAST((SELECT CAST({(100 - d) * scale} AS BIGINT)
                      // (100 * count(*)) FROM nodes)
              + ({d} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum((CAST(r.rank AS HUGEINT) * e.w) // o.out_w) AS BIGINT) AS s
    FROM edges e JOIN r{i - 1} r ON r.node = e.src
                 JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)""")
    chain = ",".join(iters)
    return oracles.on_parsed(f""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges AS (
  SELECT prev AS src, tool AS dst, count(*) AS w FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
r0 AS (
  SELECT node,
         CAST({scale} // (SELECT count(*) FROM nodes) AS BIGINT) AS rank
  FROM nodes
),{chain}
SELECT node, rank FROM r{n_iters}""")


def _lpa_oracle(n_iters: int = 4) -> str:
    """Unrolled replay of q_graph_tool_communities: the same transition edges as
    the PageRank oracle, symmetrized with summed parallel weights, then
    each synchronous round as one CTE — integer vote sums, argmax by
    (votes desc, label asc) via row_number."""
    rounds = []
    for i in range(1, n_iters + 1):
        rounds.append(f"""
l{i} AS (
  SELECT a AS node, label FROM (
    SELECT s.a, l.label, sum(s.w) AS v,
           row_number() OVER (
             PARTITION BY s.a ORDER BY sum(s.w) DESC, l.label) AS rn
    FROM sym s JOIN l{i - 1} l ON l.node = s.b
    GROUP BY s.a, l.label
  ) WHERE rn = 1
)""")
    chain = ",".join(rounds)
    return oracles.on_parsed(f""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges AS (
  SELECT prev AS src, tool AS dst, count(*) AS w FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
sym AS (
  SELECT a, b, sum(w) AS w FROM (
    SELECT src AS a, dst AS b, w FROM edges
    UNION ALL
    SELECT dst AS a, src AS b, w FROM edges
  ) GROUP BY 1, 2
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),{chain}
SELECT node, label FROM l{n_iters}""")


def _k_core_oracle(k: int = 2, n_rounds: int = 6) -> str:
    """Mirror of q_graph_tool_k_core: the same canonical edges, ``n_rounds``
    unrolled peel rounds (the k-core fixpoint is unique and this graph
    converges in far fewer — extra rounds are no-ops), final in-core
    degrees.  Every round CTE is MATERIALIZED: each c{{i}} references
    c{{i-1}} multiple times, so inlining would re-expand the whole chain
    ~5x per round — at 6 rounds that is >10k scans of the parsed events
    table, which exhausts the process file-descriptor limit."""
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT a AS node FROM c{i - 1} UNION ALL SELECT b FROM c{i - 1}
  ) GROUP BY node HAVING count(*) >= {k}
),
c{i} AS MATERIALIZED (
  SELECT a, b FROM c{i - 1}
  WHERE a IN (SELECT node FROM d{i}) AND b IN (SELECT node FROM d{i})
)""")
    chain = ",".join(rounds)
    return oracles.on_parsed(f""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges AS (
  SELECT prev AS src, tool AS dst FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL
),
c0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),{chain}
SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM c{n_rounds} UNION ALL SELECT b FROM c{n_rounds}
) GROUP BY node""")


def _url_domain_sql(var: str = "x") -> str:
    """Registered domain of one URL — the DuckDB mirror of
    urls._domain_of, with the single-element list_transform trick as
    explicit let-bindings for host and its label list."""
    suffixes = ", ".join(f"'{s}'" for s in urls.TWO_LEVEL_SUFFIXES)
    return (
        f"list_transform([lower(regexp_replace(regexp_replace("
        f"regexp_extract({var}, '^https?://([^/?#]+)', 1), '^[^@]*@', ''),"
        f" ':[0-9]+$', ''))], h -> list_transform([string_split(h, '.')],"
        f" l -> CASE WHEN len(l) >= 3 AND (l[len(l)-1] || '.' || l[len(l)])"
        f" IN ({suffixes})"
        f" THEN l[len(l)-2] || '.' || l[len(l)-1] || '.' || l[len(l)]"
        f" WHEN len(l) >= 2 THEN l[len(l)-1] || '.' || l[len(l)]"
        f" ELSE h END)[1])[1]"
    )


def _url_wrap_sql() -> str:
    """Mirror of _docs_with_urls + urls.with_url_domains: identical wrap
    (md5-u16 host picks), identical RE2 extraction pattern, trailing-punct
    trim, and the domain canonicalization chain."""
    hosts = ", ".join(f"'{h}'" for h in URL_HOSTS)
    return f"""
w AS (
  SELECT doc_id,
         text || ' See https://' || h1 || '/r/' || CAST(doc_id AS VARCHAR)
              || ' and http://u:p@' || h2 || ':8080/dl?x=1, done.' AS t
  FROM (
    SELECT doc_id, text,
           ([{hosts}])[CAST(u16 % 8 AS INT) + 1] AS h1,
           ([{hosts}])[CAST((u16 // 8) % 8 AS INT) + 1] AS h2
    FROM (SELECT doc_id, text, {_u16_sql()} AS u16 FROM documents)
  )
),
u AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(t, 'https?://[^ \\t\\r\\n\\f<>"'']+'),
           x -> regexp_replace(x, '[.,;:!?)]+$', '')) AS urls
  FROM w
),
d AS (
  SELECT doc_id, urls,
         list_sort(list_distinct(list_filter(
           list_transform(urls, x -> {_url_domain_sql('x')}),
           x -> x <> ''))) AS domains
  FROM u
)"""


def _url_blocklist_oracle() -> str:
    blocked = ", ".join(f"'{b}'" for b in BLOCKED_DOMAINS)
    return f"""
WITH {_url_wrap_sql()}
SELECT doc_id, array_to_string(domains, ',') AS domains,
       CAST(len(urls) AS INT) AS n_urls
FROM d
WHERE NOT list_has_any(domains, [{blocked}])
"""


def _url_domains_oracle() -> str:
    return f"""
WITH {_url_wrap_sql()}
SELECT domain, count(*) AS n_docs
FROM (SELECT unnest(domains) AS domain FROM d)
GROUP BY domain
"""


def _bfs_hops_oracle(max_hops: int = 4) -> str:
    """Mirror of q_graph_error_distance: symmetrized distinct edges,
    error-adjacent sources, ``max_hops`` unrolled BFS rounds — every
    round CTE MATERIALIZED (each is referenced twice; inlining would
    re-expand the chain multiplicatively, the k-core fd lesson)."""
    rounds = []
    for t in range(1, max_hops + 1):
        rounds.append(f"""
n{t} AS MATERIALIZED (
  SELECT DISTINCT e.d AS node FROM e JOIN f{t - 1} ON e.s = f{t - 1}.node
  WHERE e.d NOT IN (SELECT node FROM settled{t - 1})
),
settled{t} AS MATERIALIZED (
  SELECT node, hops FROM settled{t - 1}
  UNION ALL SELECT node, {t} AS hops FROM n{t}
),
f{t} AS MATERIALIZED (SELECT node FROM n{t})""")
    chain = ",".join(rounds)
    return oracles.on_parsed(f""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges0 AS (
  SELECT prev AS src, tool AS dst FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL
),
e AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT src AS s, dst AS d FROM edges0
    UNION ALL SELECT dst, src FROM edges0
  )
),
settled0 AS MATERIALIZED (
  SELECT DISTINCT tool AS node, 0 AS hops FROM (
    SELECT tool,
           lead(turn_class) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_class
    FROM parsed)
  WHERE tool <> '-' AND next_class = 'error'
),
f0 AS MATERIALIZED (SELECT node FROM settled0),{chain}
SELECT node, CAST(hops AS INT) AS hops FROM settled{max_hops}""")


def _weighted_sp_oracle(max_rounds: int = 8) -> str:
    """Mirror of q_graph_error_route: directed transition counts → edge
    cost 1 + (10^6 // n), symmetrized + min-per-(s,d), error-adjacent
    sources, then ``max_rounds`` unrolled FULL Bellman-Ford rounds (relax
    everything + min-aggregate — the engine's frontier pruning is a pure
    optimization with the same fixpoint), every round MATERIALIZED."""
    rounds = []
    for t in range(1, max_rounds + 1):
        rounds.append(f"""
d{t} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT e.d AS node, p.dist + e.w AS dist
    FROM d{t - 1} p JOIN e ON e.s = p.node
  ) GROUP BY node
)""")
    chain = ",".join(rounds)
    return oracles.on_parsed(f""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges0 AS (
  SELECT prev AS src, tool AS dst, count(*) AS n FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL GROUP BY 1, 2
),
wedges AS (
  SELECT src, dst, CAST(1 + (1000000 // n) AS BIGINT) AS w FROM edges0
),
e AS MATERIALIZED (
  SELECT s, d, min(w) AS w FROM (
    SELECT src AS s, dst AS d, w FROM wedges
    UNION ALL SELECT dst, src, w FROM wedges
  ) GROUP BY s, d
),
d0 AS MATERIALIZED (
  SELECT DISTINCT tool AS node, CAST(0 AS BIGINT) AS dist FROM (
    SELECT tool,
           lead(turn_class) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS next_class
    FROM parsed)
  WHERE tool <> '-' AND next_class = 'error'
),{chain}
SELECT node, CAST(dist AS BIGINT) AS dist FROM d{max_rounds}""")


def _tool_rules_oracle(min_pair_count: int = 2) -> str:
    """Mirror of q_conv_tool_rules: distinct per-conversation tool baskets,
    ordered-pair co-occurrence counts unioned into both directions, per-item
    totals, and the identical integer micro-unit confidence/lift (the lift
    numerator in HUGEINT, matching Spark's DECIMAL(38,0))."""
    return oracles.on_parsed(f""", baskets AS (
  SELECT DISTINCT conv_id AS g, tool AS item FROM parsed WHERE tool <> '-'
),
totals AS (SELECT count(DISTINCT g) AS n_groups FROM baskets),
item_counts AS (SELECT item, count(*) AS n_item FROM baskets GROUP BY item),
pair_counts AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_both
  FROM baskets a JOIN baskets b ON a.g = b.g AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {min_pair_count}
),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_both FROM pair_counts
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, n_both FROM pair_counts
)
SELECT d.antecedent, d.consequent, d.n_both,
       ia.n_item AS n_antecedent, ic.n_item AS n_consequent, t.n_groups,
       CAST((1000000 * d.n_both) // ia.n_item AS BIGINT) AS confidence_micro,
       CAST((CAST(1000000 AS HUGEINT) * t.n_groups * d.n_both)
            // (CAST(ia.n_item AS HUGEINT) * ic.n_item) AS BIGINT)
         AS lift_micro
FROM directed d
JOIN item_counts ia ON ia.item = d.antecedent
JOIN item_counts ic ON ic.item = d.consequent
CROSS JOIN totals t""")


def _strip_markup_oracle() -> str:
    """Mirror of q_doc_strip_markup: identical wrap, the same RE2-safe
    regexp chain (script/style blocks, comments, tags), entity decode in
    the same order (&amp; last), explicit-class whitespace collapse."""
    return f"""
WITH w AS (
  SELECT doc_id,
         '{MARKUP_PREFIX}' || CAST(doc_id AS VARCHAR) || '{MARKUP_MID}'
           || text || '{MARKUP_SUFFIX}' AS t
  FROM documents
),
s1 AS (SELECT doc_id, regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM w),
s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') AS t FROM s3),
e AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(t,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&amp;', '&') AS t
  FROM s4
)
SELECT doc_id,
       trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g')) AS clean_text
FROM e
"""


def _normalize_oracle() -> str:
    """Mirror of q_doc_normalize_unicode via DuckDB's nfc_normalize over
    the identically-suffixed text."""
    return f"""
SELECT doc_id, nfc_normalize(text || '{NFC_SUFFIX}') AS norm_text
FROM documents
"""


def _triangles_oracle() -> str:
    """Mirror of q_graph_tool_triangles: the same transition edges, canonical
    a<b dedup (self-loops dropped), a<b<c enumeration via the same two
    joins, three-corner credit, zeros kept by the nodes left join."""
    return oracles.on_parsed(""", seq AS (
  SELECT conv_id, turn_idx, tool FROM parsed WHERE tool <> '-'
),
edges AS (
  SELECT prev AS src, tool AS dst FROM (
    SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev,
           tool
    FROM seq)
  WHERE prev IS NOT NULL
),
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
SELECT n.node, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN (
  SELECT node, count(*) AS n FROM corners GROUP BY node) c USING (node)""")


def _tfidf_oracle(m: int = 3) -> str:
    """Mirror of q_doc_tfidf_top recomputed end to end: lowercased
    non-empty tokens, per-(doc, token) tf, smoothed idf quantized to
    integer micro-nats from the round-6 log, exact-integer tf·idf score,
    (score desc, token asc) top-m per doc."""
    return f"""
WITH {_TOK_OCC.strip()},
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
nd AS (SELECT count(*) AS n FROM documents),
dfq AS (SELECT tok, count(*) AS dft FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
         CAST(round(round(ln((n + 1.0) / (dft + 1.0)), 6) * 1000000.0)
              AS BIGINT) AS idfm
  FROM dfq, nd
),
scored AS (
  SELECT tf.doc_id, tf.tok AS token, CAST(tf.tf AS BIGINT) AS tf,
         CAST(tf.tf * idf.idfm AS BIGINT) AS score_micro
  FROM tf JOIN idf USING (tok)
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micro DESC, token) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, token, tf, score_micro, rank FROM ranked WHERE rank <= {m}
"""


def _quantized_topk_oracle(k: int = 3) -> str:
    """Mirror of q_embed_quantized_topk, recomputed end to end: the shared
    unit CTE, the int8 quantizer floor(round6(u)·127 + 0.5) per component,
    integer dot scores (list_inner_product of small-integer doubles is
    exact far below 2^53), (qscore desc, corpus_id asc) top-k."""
    return f"""
WITH {_UNIT_VEC.strip()},
qz AS (
  SELECT vec_id,
         list_transform(unit, x -> floor(round(x, 6) * 127.0 + 0.5)) AS q
  FROM unitv
),
scored AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS corpus_id,
         CAST(list_inner_product(qq.q, c.q) AS BIGINT) AS qscore
  FROM (SELECT * FROM qz WHERE vec_id % 50 = 0) qq
  JOIN qz c ON qq.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, corpus_id) AS rank
  FROM scored
)
SELECT query_id, corpus_id, qscore, rank FROM ranked WHERE rank <= {k}
"""


def _cosine_topk_oracle() -> str:
    return f"""
WITH {_UNIT_VEC.strip()},
q AS (SELECT vec_id AS query_id, unit AS qvec FROM unitv WHERE query_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS corpus_id,
         round(list_inner_product(q.qvec, c.unit), 6) AS score
  FROM q JOIN unitv c ON q.query_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
  FROM scored
)
SELECT query_id, corpus_id, score, rank FROM ranked WHERE rank <= 3
"""


def _phrase_search_oracle(toks: list[str]) -> str:
    """Brute-force mirror of retrieval.phrase_search: every token window
    compared against the phrase directly — deliberately a DIFFERENT
    algorithm from the engine's anchor-coverage aggregate, so agreement
    verifies the algebra, not a replay of it."""
    k = len(toks)
    conds = " AND ".join(
        f"lower(tks[p + {i}]) = '{t}'" for i, t in enumerate(toks)
    )
    return f"""
WITH tk AS (
  SELECT doc_id, list_filter({_DOC_TOKENS}, t -> t <> '') AS tks
  FROM documents
),
m AS (
  SELECT doc_id,
         list_filter(range(1, len(tks) - {k} + 2), p -> {conds}) AS hits
  FROM tk WHERE len(tks) >= {k}
)
SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matches,
       CAST(hits[1] - 1 AS BIGINT) AS first_pos
FROM m WHERE len(hits) > 0
"""


def _centroid_outliers_oracle(
    n_centroids: int = 8, max_cos_micro: int = 80_000
) -> str:
    """Mirror of q_embed_outliers: md5-seeded round-6 centroids (same
    given-this-index discipline as _ivf_topk_oracle), best-of-centroids
    cosine with ties to the lowest cid, micro conversion via
    round(s*1e6)."""
    return f"""
WITH {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
sims AS (
  SELECT u.vec_id, c.cid, round(list_inner_product(u.unit, c.cvec), 6) AS s
  FROM unitv u CROSS JOIN cents c
),
best AS (
  SELECT vec_id, cid AS nearest_centroid, s FROM (
    SELECT vec_id, cid, s,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sims)
  WHERE rn = 1
)
SELECT vec_id, CAST(round(s * 1000000) AS BIGINT) AS best_cos_micro,
       CAST(nearest_centroid AS INT) AS nearest_centroid
FROM best
WHERE CAST(round(s * 1000000) AS BIGINT) < {max_cos_micro}
"""


def _ivf_topk_oracle(n_centroids: int = 8, n_probe: int = 4, k: int = 3) -> str:
    """Mirror of q_embed_ivf_topk's GIVEN-INDEX probe, recomputed end to end
    in DuckDB: md5-ordered seed selection, round-6 unit-component centroids,
    nearest-centroid assignment (ties → lowest cid, like Spark's
    array_position-of-max), top-``n_probe`` bucket probe per query
    (sim desc, cid asc — Spark's struct array_sort), round-6 scores, and
    the (score desc, corpus_id asc) top-k window.  No candidate structure
    is taken on faith — the oracle rebuilds the index itself."""
    return f"""
WITH {_UNIT_VEC.strip()},
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
         list_transform(unit, x -> round(x, 6)) AS cvec
  FROM unitv
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vec_id, unit, cid AS centroid_id FROM (
    SELECT u.vec_id, u.unit, c.cid,
           row_number() OVER (
             PARTITION BY u.vec_id
             ORDER BY round(list_inner_product(u.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv u CROSS JOIN cents c)
  WHERE rn = 1
),
qprobe AS (
  SELECT query_id, qvec, cid AS centroid_id FROM (
    SELECT q.vec_id AS query_id, q.unit AS qvec, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_inner_product(q.unit, c.cvec), 6) DESC, c.cid
           ) AS rn
    FROM unitv q CROSS JOIN cents c
    WHERE q.vec_id % 50 = 0)
  WHERE rn <= {n_probe}
),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id AS corpus_id,
         round(list_inner_product(p.qvec, a.unit), 6) AS score
  FROM qprobe p JOIN assigned a ON p.centroid_id = a.centroid_id
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, corpus_id, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


def _embed_neardup_oracle(
    threshold: float = 0.3, dim: int = 64, n_planes: int = 64, band_bits: int = 4
) -> str:
    """Mirror of similarity.embedding_neardup_pairs: the SAME deterministic
    hyperplanes (similarity.hyperplanes, components rounded to 6 decimals)
    are embedded as SQL literals, each sign bit uses the same round-to-1e-6
    dot, and the exact-cosine verify is identical — so the cross-engine
    comparison is exact even though the candidate rule is approximate."""
    from log_analysis_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes)
    bit_exprs = ",\n    ".join(
        "CASE WHEN round(list_inner_product(unit, [{lits}]), 6) >= 0 THEN 1 ELSE 0 END".format(
            lits=", ".join(repr(c) for c in p)
        )
        for p in planes
    )
    n_bands = n_planes // band_bits
    band_arms = "\n  UNION ALL ".join(
        "SELECT vec_id, unit, {band} AS band, {bkey} AS bkey FROM bits".format(
            band=b,
            bkey=" + ".join(
                f"b[{b * band_bits + j + 1}] * {1 << (band_bits - 1 - j)}"
                for j in range(band_bits)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH {_UNIT_VEC.strip()},
bits AS (
  SELECT vec_id, unit, [
    {bit_exprs}
  ] AS b FROM unitv
),
banded AS (
  {band_arms}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b, a.unit AS ua, b2.unit AS ub
  FROM banded a JOIN banded b2
    ON a.band = b2.band AND a.bkey = b2.bkey AND a.vec_id < b2.vec_id
)
SELECT id_a, id_b, round(list_inner_product(ua, ub), 6) AS cosine
FROM cand WHERE round(list_inner_product(ua, ub), 6) >= {threshold}
"""
