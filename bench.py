"""Benchmark harness — prints ONE JSON line the driver records.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``:

  * ``e2e_pipeline``   — parse→enrich→route(write)→aggregate over a
    synthetic transcripts table (``$SPARK_GRAFT_BENCH_TURNS``, default 2M
    turns, 10% of rows in 5 hot convs) — the primary metric; also reported
    as turns/sec.
  * representative operator queries from __spark_entry__ at the sf dir.

Noise robustness: this host is a shared VM whose co-tenant load has shown
2× swings between single passes; the HEADLINE rows therefore run
INTERLEAVED ×``$SPARK_GRAFT_BENCH_REPEATS`` (default 3 — round-robin, so a
noise burst can't hit all repeats of one query) and report the MIN, with
every raw observation disclosed under ``"repeats"`` so noise is
self-evident in the artifact itself.  Every operator row whose history
showed >=5 s single-pass also runs interleaved ×2 within its family
block (a one-shot observation of a heavy row has misled in both
directions — see the round-4 incremental-ingest inversion); only the
cheap sub-5 s rows stay single-pass, their raw value visible as a
1-element repeats list.

Skew evidence: the hot-cell interval join pair additionally reports the
MAX TASK duration and max per-task shuffle-read from the Spark UI REST
API (``"skew_task_metrics"``): wall time on a 32-core box hides a
straggler that max-task-duration exposes — salting must cut the max task,
not just the wall clock.

Scaling evidence (local[8] vs local[32]) is produced by
``tools/bench_scaling.py`` which shells out to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _max_task_metrics(spark, group: str, fn) -> dict:
    """Run ``fn`` under a job group, then pull that group's per-task maxima
    (duration ms, shuffle-read bytes) from the UI REST API.  Wall time on a
    many-core box can't show a straggler; the max task can.  Raises when the
    UI is off or unreachable, or when the group ran no stage: a skew row
    without task metrics would be no evidence at all."""
    import json as _json
    import urllib.request

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    if not sc.uiWebUrl:
        raise RuntimeError(
            f"{group}: no Spark UI (spark.ui.enabled=false?); "
            "per-task metrics are read from its REST API"
        )
    app = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _json.load(urllib.request.urlopen(f"{app}/jobs"))
    stage_ids = sorted(
        {s for j in jobs if j.get("jobGroup") == group for s in j.get("stageIds", [])}
    )
    if not stage_ids:
        raise RuntimeError(f"{group}: the job group ran no stage")
    out = {"max_task_ms": 0, "max_task_shuffle_read_mb": 0.0}
    for sid in stage_ids:
        attempts = _json.load(urllib.request.urlopen(f"{app}/stages/{sid}?details=true"))
        for att in attempts:
            for t in (att.get("tasks") or {}).values():
                out["max_task_ms"] = max(out["max_task_ms"], int(t.get("duration") or 0))
                sm = (t.get("taskMetrics") or {}).get("shuffleReadMetrics") or {}
                rd = (sm.get("remoteBytesRead") or 0) + (sm.get("localBytesRead") or 0)
                out["max_task_shuffle_read_mb"] = max(
                    out["max_task_shuffle_read_mb"], round(rd / 1e6, 2)
                )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "2000000"))
    n_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    from log_analysis_spark.datagen import synth_transcripts
    from log_analysis_spark.plans.pipeline import run_pipeline
    from log_analysis_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        # the UI serves the REST task-metrics endpoint the skew evidence
        # reads; negligible overhead at bench scale
        extra_conf={"spark.ui.enabled": "true"},
    )

    # ---- setup (not timed): synthesize + materialize the transcripts table
    work = tempfile.mkdtemp(prefix="bench_")
    tpath = f"{work}/transcripts"
    synth_transcripts(spark, n_turns, partitions=int(cpus) * 2).write.mode(
        "overwrite"
    ).parquet(tpath)
    turns = spark.read.parquet(tpath)

    runs: dict[str, list[float]] = {}

    def timed(name, fn):
        t0 = time.monotonic()
        fn()
        runs.setdefault(name, []).append(round(time.monotonic() - t0, 3))

    # ---- warmup (untimed): the metric is steady-state throughput on a
    # 10^12-turn table, not JVM cold start — a fresh JVM's first fan-out
    # write pays JIT + heap fault-in (measured up to 6× the warm cost)
    warm = turns.sample(0.125, seed=7)
    run_pipeline(spark, warm, f"{work}/warmup", parse_impl="native").hourly_rollup.count()

    # ---- headline rows: interleaved ×n_repeats, min reported -------------
    # One round-robin pass per repeat (never N back-to-back runs of one
    # query) so a co-tenant noise burst lands on at most one repeat of each
    # row; writes go to per-repeat dirs (the fan-out writer is resumable —
    # a reused dir would no-op the later repeats).
    from log_analysis_spark.datagen import role_taxonomy, tool_registry
    from log_analysis_spark.functions.parse import parse_turns
    from log_analysis_spark.operators import enrich, router
    from pyspark import StorageLevel

    from log_analysis_spark.operators import router as router_ops
    from log_analysis_spark.sources.iceberg import route_write_resumable

    def _nowrite():
        parsed = parse_turns(turns, impl="native")
        enriched = enrich.enrich_tools(
            enrich.enrich_roles(parsed, role_taxonomy(spark)), tool_registry(spark)
        )
        tagged = router.tag_sinks(enriched, router.default_rules())
        router.sink_counts(tagged).collect()

    def _parse_with(impl, frame=None):
        parse_turns(frame if frame is not None else turns, impl=impl).select(
            "turn_class", "http_code"
        ).groupBy("turn_class", "http_code").count().collect()

    # write-only facet input: tagged frame materialized in memory first, so
    # the timed section is ONLY the fan-out sink write.  Three facets (e2e /
    # compute-only / write-only) at both parallelism levels let regressions
    # in compute show through even when the single shared virtio disk under
    # the fan-out write is the noisy term.
    tagged_cached = (
        router_ops.tag_sinks(
            enrich.enrich_tools(
                enrich.enrich_roles(
                    parse_turns(turns, impl="native"), role_taxonomy(spark)
                ),
                tool_registry(spark),
            ),
            router_ops.default_rules(),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tagged_cached.count()

    _parse_with("arrow", warm)   # python-worker spin-up, untimed

    q = entrymod.queries()
    for r in range(n_repeats):
        out_dir = f"{work}/pipe_{r}"
        timed(
            "e2e_pipeline",
            lambda: run_pipeline(
                spark, turns, out_dir, parse_impl="native"
            ).hourly_rollup.count(),
        )
        timed("parse_route_agg_nowrite", _nowrite)
        timed(
            "route_write_only",
            lambda: route_write_resumable(tagged_cached, f"{work}/w_only_{r}"),
        )
        timed("parse_arrow", lambda: _parse_with("arrow"))   # arrow_udf, pyarrow/RE2
        for name in [
            "logs_overview",
            "interval_join",
            "hourly_rollup",
            "embed_cosine_topk",
        ]:
            timed(name, lambda n=name: q[n](spark, sf_dir).count())
        # reclaim the per-repeat write output before the next pass
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(f"{work}/w_only_{r}", ignore_errors=True)
    tagged_cached.unpersist()

    e2e_throughput = round(n_turns / min(runs["e2e_pipeline"]), 1)

    # transcripts→training-doc assembly over the full synthetic turns table
    # (boilerplate anti-join + conv-keyed ordered assembly); sum(length(text))
    # forces the array_join text column so column pruning can't skip the
    # expensive part of the plan
    from pyspark.sql import functions as _F

    from log_analysis_spark.operators import corpus as corpus_ops

    # production doc-op paths (xxhash64 / pd-hash variants; their md5
    # exact-oracle twins hold the contract slots, these hold the perf line)
    from log_analysis_spark.operators import dedup
    from log_analysis_spark.operators import span_dedup as span_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the heaviest doc rows are also the historically noisiest (2× host
    # swings round to round) — interleave ×2 and report the min, same
    # discipline as the headline block.  Every row whose single-pass
    # history showed >=5 s lives in one of these round-robin loops: a
    # one-shot observation of a heavy row has repeatedly misled in BOTH
    # directions (round-3/4 artifacts).
    for _ in range(2):
        timed(
            "conv_docs_assembly",
            lambda: corpus_ops.transcripts_to_docs(turns)
            .select(_F.sum(_F.length("text")), _F.sum("n_turns_kept"))
            .collect(),
        )
        timed(
            "doc_minhash_lsh",
            lambda: dedup.minhash_lsh_pairs(docs, threshold=0.2).count(),
        )
        timed(
            "doc_minhash_numpy",
            lambda: dedup.minhash_lsh_pairs(
                docs, threshold=0.2, hash_impl="numpy"
            ).count(),
        )
        timed(
            "doc_simhash",
            lambda: dedup.simhash_neardup_pairs(
                dedup.simhash_table(docs), max_hamming=8
            ).count(),
        )
        # edit-distance verification of the minhash band candidates
        # (bounded Levenshtein DP over the narrow candidate pairs, texts
        # re-attached by two id equi-joins)
        timed(
            "doc_lev_neardup",
            lambda: dedup.levenshtein_verified_pairs(
                dedup.minhash_lsh_pairs(docs, threshold=0.0), docs, max_dist=50
            ).count(),
        )
        # span-level dedup: the corpus rebuilt without duplicated 3-gram
        # spans; sum(length) forces the rebuilt text column so pruning
        # can't skip the higher-order-filter reassembly
        timed(
            "doc_span_dedup",
            lambda: span_ops.remove_dup_spans(docs, k=3)
            .selectExpr("sum(length(clean_text))")
            .collect(),
        )

    # embedding near-dup: oracle-twin expression path vs numpy-matmul
    # production path (identical pair sets — the delta is pure execution)
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nd_kw = dict(threshold=0.3, n_planes=64, band_bits=4)
    for _ in range(2):
        timed(
            "embed_neardup_expr",
            lambda: similarity.embedding_neardup_pairs(emb, **nd_kw).count(),
        )
        timed(
            "embed_neardup_matmul",
            lambda: similarity.embedding_neardup_pairs_matmul(
                emb, **nd_kw
            ).count(),
        )
    timed(
        "embed_cosine_topk_matmul",
        lambda: similarity.cosine_topk_matmul(
            emb, emb.filter(F.col("vec_id") % 50 == 0), k=3
        ).count(),
    )
    # same query set over int8 codes (1 byte/dim, exact int32 matmul) —
    # the delta vs the float row is the vector-compression win
    timed(
        "embed_quantized_topk_matmul",
        lambda: similarity.quantized_topk_matmul(
            emb, emb.filter(F.col("vec_id") % 50 == 0), k=3
        ).count(),
    )

    # SemDeDup: deterministic-index semantic dedup (assignment is
    # projection-only; within-cluster pairs + CC keep-first)
    from log_analysis_spark.operators import semdedup as semdedup_ops

    for _ in range(2):
        timed(
            "embed_semdedup",
            lambda: semdedup_ops.semdedup(
                emb, threshold=0.3,
                cents=similarity.md5_seed_centroids(emb, n_centroids=8),
            ).count(),
        )

    # hashed-n-gram NB quality classifier: train toward the lang='en' slice
    # + score every doc in one pass (sum forces the score columns so
    # pruning can't skip the weight join)
    from log_analysis_spark.operators import textstats as textstats_ops

    timed(
        "doc_quality_classifier",
        lambda: textstats_ops.ngram_quality_classifier(
            docs, F.col("lang") == "en", n_buckets=1 << 16
        )
        .selectExpr("sum(score_micro)", "sum(n_feats)")
        .collect(),
    )

    # full winnowing fingerprints (production xxhash64 path: pure
    # projection + explode, O(grams * w) JVM work per doc, zero shuffle)
    # and the one-pass corpus audit report (scan-fused per-doc features +
    # a single map-side-combinable aggregate) — both >=5 s, so
    # interleaved ×2
    for _ in range(2):
        timed(
            "doc_winnow",
            lambda: textstats_ops.winnow_fingerprints(
                docs, k=16, w=8, hash_impl="xxhash64"
            ).count(),
        )
        timed(
            "corpus_report",
            lambda: corpus_ops.corpus_report(docs, gopher_min_stopwords=1)
            .collect(),
        )

    # exact line-level corpus dedup + boilerplate stripping over the
    # transcript-assembled docs.  The assembly is MATERIALIZED once at the
    # stage boundary — exactly what jobs/run_transcript_corpus.py does
    # between assemble and dedup — because both line ops consume their
    # input 2-3x (occurrence stream, drop-list aggregate, rebuild join):
    # inline composition re-runs the assembly window per consumer
    # (measured 24.3s -> 3.2s for dedup_lines at sf0.1, BENCH/BASELINE.md
    # round-4 notes).  conv_docs_assembly above times the assembly itself.
    conv_docs = corpus_ops.transcripts_to_docs(turns).persist()
    conv_docs.count()

    # md5-keyed line shuffle + indexed rebuild (text never shuffles)
    timed(
        "doc_line_dedup",
        lambda: span_ops.dedup_lines(
            conv_docs,
            min_words=2,
            id_col="conv_id",
        )
        .agg(F.sum("n_lines_removed"))
        .collect(),
    )

    # boilerplate-line stripping: broadcast common-set probe, occurrences
    # never shuffle on the line key
    timed(
        "doc_strip_common_lines",
        lambda: span_ops.strip_common_lines(
            conv_docs,
            max_doc_frac=0.03,
            min_words=2,
            id_col="conv_id",
        )
        .agg(F.sum("n_lines_removed"))
        .collect(),
    )
    conv_docs.unpersist()

    # Gopher quality gate: 7 integer rules fused into the scan, zero shuffle
    timed(
        "doc_gopher_rules",
        lambda: textstats_ops.gopher_rules(docs)
        .filter("keep_gopher")
        .count(),
    )

    # CCNet perplexity buckets: unigram LM (token-keyed shuffle) + the
    # (lang, score)-histogram CDF — no corpus-sized single partition
    timed(
        "doc_ppl_buckets",
        lambda: textstats_ops.perplexity_buckets(docs, n_buckets=3)
        .groupBy("ppl_bucket")
        .count()
        .collect(),
    )

    # TF-IDF keyword extraction: (id, token) tf shuffle + narrow df/idf
    # joins + per-doc rank window
    timed(
        "doc_tfidf_top",
        lambda: textstats_ops.tfidf_top_terms(docs, m=3).count(),
    )

    # token-window chunking: shuffle-free scan -> project -> generate
    from log_analysis_spark.operators import chunking as chunking_ops

    timed(
        "doc_chunks",
        lambda: chunking_ops.chunk_documents(docs, max_tokens=24, overlap=6)
        .agg(F.count(F.lit(1)), F.sum("n_tokens"))
        .collect(),
    )

    # per-group quota cap: narrow (id, group) rank over the over-cap
    # groups only, broadcast re-attach
    timed(
        "corpus_cap_group",
        lambda: corpus_ops.cap_per_group(docs, "lang", 1000).count(),
    )

    # concat-and-split sequence packing: narrow two-phase offsets + one
    # id join + pre-sliced segment generate
    timed(
        "corpus_pack_sequences",
        lambda: chunking_ops.pack_sequences(docs, seq_len=2048)
        .agg(F.count(F.lit(1)), F.sum("n_tokens"))
        .collect(),
    )

    # BM25 keyword retrieval: postings broadcast-filtered to the query
    # vocabulary at the scan, integer-micro scoring, per-query rank window
    from log_analysis_spark.operators import retrieval as retrieval_ops

    bm25_queries = spark.createDataFrame(
        [
            (1, "hash join table"),
            (2, "slow scan filter"),
            (3, "spark merge sort batch"),
            (4, "key value part row"),
        ],
        "query_id int, query_text string",
    )
    timed(
        "doc_bm25_topk",
        lambda: retrieval_ops.bm25_topk(docs, bm25_queries, k=10).count(),
    )

    # Bloom-filter decontamination: bounded set-bit broadcast (<= m_bits
    # rows), md5-keyed corpus grams — vs the exact operator's
    # distinct-gram broadcast that grows with the benchmark
    bench_split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    timed(
        "doc_decontaminate_bloom",
        lambda: corpus_ops.decontaminate_bloom(
            docs.filter(~bench_split),
            docs.filter(bench_split),
            n=5,
            m_bits=1 << 20,
            n_hashes=4,
        )
        .agg(F.sum("n_flagged_grams"), F.count_if("contaminated"))
        .collect(),
    )

    # fuzzy (MinHash-LSH) decontamination, production xxhash64 path: the
    # bench side broadcasts twice, the corpus never enters a wide exchange
    timed(
        "doc_fuzzy_decontam",
        lambda: dedup.fuzzy_decontaminate(
            docs.filter(~bench_split),
            docs.filter(bench_split),
            threshold=0.5,
        )
        .agg(F.count_if("contaminated"), F.sum("n_bench_hits"))
        .collect(),
    )

    # cluster-balanced embedding downsampling: projection assignment +
    # k-row count aggregate + broadcast rate join + pure filter
    timed(
        "embed_cluster_balanced",
        lambda: semdedup_ops.cluster_balanced_sample(
            emb, cap_per_cluster=200,
            cents=similarity.md5_seed_centroids(emb, n_centroids=8),
        ).count(),
    )

    # semantic decontamination, matmul production path: one zero-shuffle
    # pass of the corpus against the broadcast bench matrix
    timed(
        "embed_semantic_decontam",
        lambda: similarity.semantic_decontaminate_matmul(
            emb.filter(F.col("vec_id") % 37 != 0),
            emb.filter(F.col("vec_id") % 37 == 0),
            threshold=0.3,
        )
        .selectExpr("sum(max_bench_cos)", "count_if(contaminated)")
        .collect(),
    )

    # embedding-space incremental ingest vs full re-pair — the vector twin
    # of the text rows below: corpus = 90% of vectors with its sign-band
    # state PREBUILT, increment = the other 10%; the repair row re-pairs
    # corpus+increment from scratch (work that grows with CORPUS size,
    # vs the ingest's increment-sized probe)
    from log_analysis_spark.operators import dedup as dedup_ops
    from log_analysis_spark.operators import incremental_embed

    emb_is_inc = F.xxhash64(F.col("vec_id").cast("string")) % 10 == 0
    emb_90 = emb.filter(~emb_is_inc)
    emb_10 = emb.filter(emb_is_inc).persist(StorageLevel.MEMORY_AND_DISK)
    emb_10.count()
    est0 = incremental_embed.ingest_embedding_batch(
        emb_90, *incremental_embed.empty_embed_state(spark), **nd_kw
    )
    eu_90 = est0.new_unit_rows.persist(StorageLevel.MEMORY_AND_DISK)
    eb_90 = est0.new_band_rows.persist(StorageLevel.MEMORY_AND_DISK)
    eu_90.count(), eb_90.count()
    def _embed_repair():
        full = emb_90.unionByName(emb_10)
        pairs = similarity.embedding_neardup_pairs_matmul(full, **nd_kw)
        groups = dedup_ops.neardup_groups(
            full.select(F.col("vec_id").alias("id")), pairs.select("id_a", "id_b")
        )
        dedup_ops.drop_near_duplicates(full, groups, "vec_id").count()

    # the incremental-vs-batch pair is the artifact's amortization claim —
    # interleave ×2 so one cold pass can't invert it (round-4 lesson)
    for _ in range(2):
        timed(
            "embed_increment_ingest",
            lambda: incremental_embed.ingest_embedding_batch(
                emb_10, eu_90, eb_90, **nd_kw
            ).accepted.count(),
        )
        timed("embed_batch_repair", _embed_repair)
    emb_10.unpersist()
    eu_90.unpersist()
    eb_90.unpersist()

    # hard-negative mining, production path: anchors + labels ride the UDF
    # closure, one numpy matmul per Arrow batch, candidate-only shuffle
    timed(
        "embed_hard_negatives",
        lambda: similarity.hard_negatives_matmul(
            emb, emb.filter(F.col("vec_id") % 50 == 0), k=3
        ).count(),
    )

    # HLL distinct sketch over the full 2M-turn table: grouped path is one
    # (role, bucket) max aggregate — constant 2^12-register state per role
    from log_analysis_spark.operators import sketches as sk_ops
    from log_analysis_spark.operators import timeseries as ts_ops

    timed(
        "hll_distinct_convs",
        lambda: sk_ops.hll_distinct(turns, "conv_id", p=12, group="role")
        .collect(),
    )

    # temporal burst detection: hourly counts on the dense zero-filled
    # spine + one trailing window over hour-count rows (never the stream)
    ev_b = spark.read.parquet(f"{sf_dir}/events.parquet")
    timed(
        "events_burst_hours",
        lambda: ts_ops.burst_hours(ev_b, "ts", "event_type", n_trail=24, z=3)
        .filter(F.col("anomaly").isNotNull())
        .count(),
    )

    # URL extraction + registered-domain blocklist gate: scan-fused pure
    # projection over the URL-injected docs (the contract query's shape)
    timed(
        "doc_url_blocklist",
        lambda: entrymod.q_doc_url_blocklist(spark, sf_dir).count(),
    )

    # as-of join over the full synthetic turns table (skewed: 10% of rows
    # in 5 hot convs): each assistant turn gains its most recent prior user
    # turn — ONE conv_id shuffle + window carry, never a range join.  The
    # aggregate reads the carried match so column pruning can't skip it.
    timed(
        "asof_join_turns",
        lambda: ts_ops.asof_join(
            turns.filter(F.col("role") == "assistant"),
            turns.filter(F.col("role") == "user").select(
                "conv_id", "turn_idx", "ts"
            ),
            "conv_id",
            ["turn_idx"],
            right_order="turn_idx",
        )
        .agg(F.count("asof_turn_idx"), F.count("*"))
        .collect(),
    )

    # skewed interval join: HALF of a 2M-row others table in ONE (conv,
    # hour) cell, broadcast disabled so the join shuffles (the 100 TB
    # reality: the anchors side is ~25% of all turns, far past any
    # broadcast threshold).  Unsalted, the hot cell rides one reducer;
    # n_salts=32 splits it — the wall-time pair is the skew-handling
    # evidence the contract's mild 5-hot-conv datagen can't produce.
    from log_analysis_spark.operators import joins as joins_ops

    t0lit = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    # 16M rows (8M in the ONE hot cell) is the smallest input where the
    # hot reducer's task dominates its stage on this 32-core box (~5.6 s
    # unsalted max task vs ~0.2 s overhead floor), so the straggler shows
    # in max-task DURATION, not just shuffle bytes: measured ~3.1× max-task
    # and ~4.5× max-shuffle-read reduction under n_salts=32.  At 2M the
    # hot task was overhead-dominated and the duration ratio pinned at 1.0.
    n_sk = int(os.environ.get("SPARK_GRAFT_SKEW_ROWS", "16000000"))
    others_sk = (
        spark.range(n_sk)
        .select(
            F.when(F.col("id") % 2 == 0, "hot")
            .otherwise(F.concat(F.lit("c"), (F.col("id") % 997).cast("string")))
            .alias("conv_id"),
            F.col("id").alias("other_idx"),
            F.when(
                F.col("id") % 2 == 0,
                t0lit + F.make_interval(secs=(F.col("id") % 3600)),
            )
            .otherwise(t0lit + F.make_interval(secs=(F.col("id") % 600_000)))
            .alias("ts"),
        )
        .repartition(int(cpus) * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    others_sk.count()
    anchors_sk = (
        others_sk.select("conv_id")
        .distinct()
        .select(
            "conv_id",
            F.lit(0).alias("anchor_idx"),
            t0lit.alias("start_ts"),
            (t0lit + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    anchors_sk.count()
    sk_kw = dict(
        equi_keys=["conv_id"],
        anchor_start="start_ts",
        anchor_end="end_ts",
        other_ts="ts",
    )
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    skew_metrics: dict[str, dict] = {}
    try:
        # interleaved ×2 like every other >=5 s row; per-variant task
        # metrics take the MAX over both passes — the straggler claim
        # should survive the variant's worst observed scheduling, not
        # lean on one lucky pass
        def _merge(tag, m):
            prev = skew_metrics.get(tag, {})
            skew_metrics[tag] = {
                k: max(m.get(k, 0), prev.get(k, 0))
                for k in set(m) | set(prev)
            }

        for i in range(2):
            _merge(
                "unsalted",
                _max_task_metrics(
                    spark,
                    f"skew_unsalted_{i}",
                    lambda: timed(
                        "interval_join_hot_unsalted",
                        lambda: joins_ops.interval_join(
                            anchors_sk, others_sk, bucketed=True, **sk_kw
                        ).count(),
                    ),
                ),
            )
            _merge(
                "salted",
                _max_task_metrics(
                    spark,
                    f"skew_salted_{i}",
                    lambda: timed(
                        "interval_join_hot_salted",
                        lambda: joins_ops.interval_join(
                            anchors_sk, others_sk, bucketed=True, n_salts=32,
                            **sk_kw
                        ).count(),
                    ),
                ),
            )
        u, s = skew_metrics["unsalted"], skew_metrics["salted"]
        skew_metrics["max_task_reduction"] = (
            round(u["max_task_ms"] / s["max_task_ms"], 2)
            if s.get("max_task_ms")
            else None
        )
        # at bench scale per-task wall time is overhead-dominated, so the
        # straggler evidence lives in the DATA metric: max shuffle bytes
        # read by any one task — the quantity salting actually spreads
        skew_metrics["max_shuffle_read_reduction"] = (
            round(
                u["max_task_shuffle_read_mb"] / s["max_task_shuffle_read_mb"], 2
            )
            if s.get("max_task_shuffle_read_mb")
            else None
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        others_sk.unpersist()
        anchors_sk.unpersist()

    # pre-flight join-size planner over the full skewed turns table (10%
    # of rows in 5 hot convs): exact heavy-hitter arm + sampled tail —
    # the estimate that decides salting BEFORE any shuffle join runs
    from log_analysis_spark.operators import sketches as sk_plan

    timed(
        "join_size_preflight",
        lambda: sk_plan.join_size_estimate(
            turns.select("conv_id"), turns.select("conv_id"), "conv_id",
            hh_k=64,
        ).collect(),
    )

    # incremental ingest vs full re-dedup: the daily-increment scenario —
    # corpus = 90% of docs with its LSH state PREBUILT (amortized across
    # increments, like the IVF index), increment = the other 10%.  The
    # batch row re-dedups corpus+increment from scratch: the work a
    # pipeline without incremental state repeats every day, growing with
    # CORPUS size, while the ingest row grows only with the increment.
    from log_analysis_spark.operators import incremental

    docs_s = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    is_inc = F.xxhash64("doc_id") % 10 == 0
    corpus_90 = docs_s.filter(~is_inc)
    inc_10 = docs_s.filter(is_inc).persist(StorageLevel.MEMORY_AND_DISK)
    inc_10.count()
    st = incremental.ingest_batch(
        corpus_90,
        spark.createDataFrame([], "id string, sig array<bigint>"),
        spark.createDataFrame([], "id string, band int, bkey bigint"),
        threshold=0.5,
    )
    sig_90 = st.new_sig_rows.persist(StorageLevel.MEMORY_AND_DISK)
    band_90 = st.new_band_rows.persist(StorageLevel.MEMORY_AND_DISK)
    sig_90.count(), band_90.count()
    def _batch_rededup():
        full = corpus_90.unionByName(inc_10)
        pairs = dedup.minhash_lsh_pairs(full, id_col="doc_id", threshold=0.5)
        groups = dedup.neardup_groups(full.select(F.col("doc_id").alias("id")), pairs)
        dedup.drop_near_duplicates(full, groups, "doc_id").count()

    # interleave ×2: the round-4 artifact showed a ONE-SHOT ingest row
    # (10.4 s cold) losing to re-dedup (7.3 s) — warm, ingest is ~3.3 s vs
    # ~7.2 s, so the single cold pass inverted the row pair's whole claim
    for _ in range(2):
        timed(
            "dedup_increment_ingest",
            lambda: incremental.ingest_batch(
                inc_10, sig_90, band_90, threshold=0.5
            ).accepted.count(),
        )
        timed("dedup_batch_rededup", _batch_rededup)
    inc_10.unpersist()
    sig_90.unpersist()
    band_90.unpersist()

    # ---- session-12 ops: template mining (2M raw lines), CUSUM drift,
    # phrase search + DEFLATE signal over the full document corpus
    from log_analysis_spark.operators import retrieval as retr_b
    from log_analysis_spark.operators import templates as tmpl_b
    from log_analysis_spark.operators import textstats as ts_b
    from log_analysis_spark.operators import timeseries as tsr_b

    timed(
        "log_template_mining",
        lambda: tmpl_b.mine_templates(turns, "text").count(),
    )
    timed(
        "events_cusum_drift",
        lambda: tsr_b.cusum_hours(ev_b, "ts", "event_type",
                                  k_milli=300, h_mult=2).count(),
    )
    timed(
        "doc_phrase_search",
        lambda: retr_b.phrase_search(docs, "the data").count(),
    )
    timed(
        "doc_compress_ratio",
        lambda: ts_b.compression_ratio(docs).count(),
    )

    # ---- session-13 ops: exact heavy hitters over the corpus token
    # stream, gauge-series reads (time-weighted avg / gap-fill / seasonal)
    from log_analysis_spark.operators import sketches as sk_b

    timed(
        "doc_token_heavy_hitters",
        lambda: sk_b.heavy_hitters(
            ts_b.token_table(docs), "tok", k=50
        ).count(),
    )
    timed(
        "events_time_weighted",
        lambda: tsr_b.time_weighted_avg(
            ev_b, "ts", "user_id", "value", "event_id"
        ).count(),
    )
    timed(
        "events_gapfill",
        lambda: tsr_b.gapfill_linear(
            tsr_b.hourly_gauge(ev_b, "ts", "event_type", "value")
        ).count(),
    )
    timed(
        "events_seasonal",
        lambda: tsr_b.seasonal_anomalies(
            ev_b, "ts", "event_type", n_mad=3
        ).count(),
    )

    # ---- session-16 ops: hybrid retrieval fusion, readability projection
    from log_analysis_spark.operators import graph as gr_b

    bm_queries = spark.createDataFrame(
        entrymod.BM25_QUERIES, "query_id int, query_text string"
    )
    timed(
        "doc_hybrid_search",
        lambda: retr_b.rrf_fuse(
            [retr_b.bm25_topk(docs, bm_queries, k=20),
             retr_b.jaccard_topk(docs, bm_queries, k=20)],
            k=5,
        ).count(),
    )
    timed(
        "doc_readability",
        lambda: ts_b.readability(docs)
        .agg({"flesch_milli": "sum", "fk_grade_milli": "sum"})
        .collect(),
    )
    for _ in range(2):
        timed(
            "doc_containment",
            lambda: dedup.containment_pairs(docs, k=3, threshold=0.9).count(),
        )
    timed(
        "events_attribution",
        lambda: tsr_b.attribution(ev_b).count(),
    )

    from log_analysis_spark.operators import similarity as sim_b

    emb_b16 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed(
        "embed_mmr_rerank",
        lambda: sim_b.mmr_rerank(
            sim_b.cosine_topk(
                emb_b16, emb_b16.filter(_F.col("vec_id") % 50 == 0), k=20
            ).join(
                sim_b.with_unit_vec(emb_b16).select(
                    _F.col("vec_id").alias("corpus_id"), "unit"
                ),
                "corpus_id",
            ),
            k=5,
        ).count(),
    )

    from log_analysis_spark.operators import timeseries as tsl_b

    timed(
        "events_concurrency",
        lambda: tsl_b.concurrency_timeline(
            tsl_b.session_intervals(ev_b, "ts", "user_id", 1800,
                                    ["ts", "event_id"])
        ).count(),
    )
    timed(
        "doc_loop_detection",
        lambda: ts_b.loop_detection(docs)
        .agg({"loop_tokens": "sum"})
        .collect(),
    )
    timed(
        "corpus_diversity",
        lambda: ts_b.distinct_ngram_ratio(docs, ns=(1, 2, 3)).count(),
    )
    timed(
        "events_forecast_backtest",
        lambda: tsl_b.seasonal_naive_backtest(ev_b, "ts", "event_type").count(),
    )

    timings = {name: min(obs) for name, obs in runs.items()}
    total = round(sum(sum(obs) for obs in runs.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "e2e parse->enrich->route->aggregate wall time",
                "value": timings["e2e_pipeline"],
                "unit": "sec",
                "queries": timings,
                "repeats": runs,
                "n_repeats": n_repeats,
                "skew_task_metrics": skew_metrics,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "bench_turns": n_turns,
                "cpus": int(cpus),
                "throughput_turns_per_sec": e2e_throughput,
                "total_sec": total,
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
