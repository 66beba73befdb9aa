"""The three benchmark workloads, each as one checked unit of work.

All are closed loop: one client submits one unit at a time, and the next unit
starts after the previous one finished and was checked.  Each workload has

* ``prepare`` — write the seeded input and compute the expected outputs
  independently of the program (set-up, not timed as a run);
* ``run_once`` — one timed, checked run plus the rerun that takes the
  program's resume path (for ``route_stream``, several restarts);
* ``trace`` — one run split into spans around the calls into each layer,
  with each layer's Spark jobs under its own job group.

Only public functions of ``log_analysis_spark`` are called.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from log_analysis_spark.datagen import role_taxonomy, tool_registry
from log_analysis_spark.functions.parse import parse_turns
from log_analysis_spark.operators import aggregate as agg
from log_analysis_spark.operators import corpus, dedup, enrich, router, textstats
from log_analysis_spark.plans.manifest import (
    Manifest,
    StageRecord,
    fingerprint_input,
    fingerprint_source,
    partition_row_counts,
)
from log_analysis_spark.plans.pipeline import run_pipeline
from log_analysis_spark.sources.iceberg import route_write_resumable
from log_analysis_spark.streaming.stream_pipeline import run_stream_routed

import gen
import oracle

# Files per micro-batch; fixed by stream_pipeline.stream_transcripts.
FILES_PER_TRIGGER = 8


class CheckFailed(AssertionError):
    """A run finished but its output differs from the expected output."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Sample:
    """One checked unit: wall time of the cold run, of each resumed rerun, and
    the latencies of the batches it submitted."""

    wall_s: float
    resume_s: list[float]
    batch_ms: list[float]


@dataclass
class Prepared:
    info: gen.InputInfo
    expected: oracle.Expected | None


def noop(df: DataFrame) -> None:
    """Force ``df`` completely without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory spans around layer calls.  A span may name a Spark job
    group; every job the call submits is then charged to that group."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.labels: dict[str, str] = {}

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if group is not None:
            self.labels[group] = group
            self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "group": group, "start": start, "end": end})

    def seconds(self, name: str) -> float:
        """Median duration of the spans called ``name``."""
        return statistics.median(s["end"] - s["start"] for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------- route_batch


class RouteBatch:
    name = "route_batch"
    spec = gen.InputSpec(n_turns=150_000, n_files=8, hot_fraction=0.10)
    # After four warm-up units on a small input the first timed unit still
    # used half again the JVM CPU of the later ones; after two on the full
    # input it uses a sixth more.
    warmup_spec = spec
    warmup_units = 2
    salt_partitions = 16
    prefix_repeats = 3

    def prepare(self, spark: SparkSession, seed: int, path: str, warm: bool = False) -> Prepared:
        info = gen.write_input(spark, self.warmup_spec if warm else self.spec, seed, path)
        return Prepared(info, oracle.expected_outputs(path))

    def _pipeline(self, spark: SparkSession, path: str, out_dir: str):
        """The ``jobs/run_pipeline.py`` call, with every output forced."""
        res = run_pipeline(spark, spark.read.parquet(path), out_dir, parse_impl="native")
        hourly = sorted(tuple(r) for r in res.hourly_rollup.collect())
        convs = {r["conv_id"]: r["n"] for r in res.conv_counts.collect()}
        return res, hourly, convs

    def run_once(self, spark: SparkSession, prep: Prepared, out_dir: str) -> Sample:
        path = prep.info.path
        t0 = time.perf_counter()
        res, hourly, convs = self._pipeline(spark, path, out_dir)
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        res2, hourly2, convs2 = self._pipeline(spark, path, out_dir)
        resume = time.perf_counter() - t1

        exp = prep.expected
        check(res.stages_skipped == [], f"cold run skipped {res.stages_skipped}")
        check(res.per_sink_counts == exp.per_sink, "per-sink counts differ from DuckDB")
        check(res.n_turns == prep.info.rows, "routed rows differ from input rows")
        check(hourly == exp.hourly, "hourly_rollup differs from DuckDB")
        check(convs == exp.conv_counts, "conv_counts differ from DuckDB")
        check(res2.stages_skipped == ["route"], f"rerun skipped {res2.stages_skipped}")
        check(
            (res2.per_sink_counts, hourly2, convs2) == (res.per_sink_counts, hourly, convs),
            "resumed rerun outputs differ from the cold run",
        )
        return Sample(wall, [resume], [wall * 1e3])

    def trace(self, spark: SparkSession, prep: Prepared, out_dir: str, tr: Tracer) -> dict:
        """Cumulative noop prefixes for the fused scan → parse → enrich → tag
        projection, then the write, manifest and aggregate calls that
        ``run_pipeline`` makes, each in its own span; then one plain
        ``run_pipeline`` in the same session for the coverage figure."""
        path = prep.info.path
        turns = spark.read.parquet(path)
        parsed = parse_turns(turns, impl="native")
        enriched = enrich.enrich_tools(
            enrich.enrich_roles(parsed, role_taxonomy(spark)), tool_registry(spark)
        )
        tagged = router.tag_sinks(enriched, router.default_rules())
        # a layer's self time is a difference of two prefix times, so each
        # prefix is the median of interleaved repeats
        for _ in range(self.prefix_repeats):
            for name, group, df in (
                ("sources.scan", "sources.scan", turns),
                ("parse.prefix", "parse", parsed),
                ("enrich.prefix", "enrich", enriched),
                ("router.prefix", "router", tagged),
            ):
                with tr.span(name, group):
                    noop(df)
        routed_path = f"{out_dir}/composed/routed"
        with tr.span("sources.write", "sources.write"):
            route_write_resumable(tagged, routed_path)
        with tr.span("manifest.fingerprint"):
            fingerprint_input(out_dir, "native", fingerprint_source(turns))
        routed = spark.read.parquet(routed_path)
        with tr.span("manifest.partition_counts", "manifest"):
            partition_row_counts(routed)
        with tr.span("aggregate.sink_counts", "aggregate"):
            per_sink = {r["sink"]: r["n"] for r in router.sink_counts(routed).collect()}
        with tr.span("aggregate.hourly", "aggregate"):
            hourly = sorted(
                tuple(r)
                for r in agg.hourly_rollup(routed, keys=["sink", "role", "tool"]).collect()
            )
        with tr.span("aggregate.conv_count", "aggregate"):
            convs = {
                r["conv_id"]: r["n"]
                for r in agg.salted_group_count(
                    routed, "conv_id", n_salts=self.salt_partitions
                ).collect()
            }
        exp = prep.expected
        check(per_sink == exp.per_sink, "traced per-sink counts differ from DuckDB")
        check(hourly == exp.hourly, "traced hourly_rollup differs from DuckDB")
        check(convs == exp.conv_counts, "traced conv_counts differ from DuckDB")
        files, nbytes = gen.dir_stats(routed_path)

        with tr.span("pipeline.run"):
            self._pipeline(spark, path, f"{out_dir}/plain")

        s = tr.seconds
        p0, p1, p2, p3 = (s(n) for n in ("sources.scan", "parse.prefix", "enrich.prefix", "router.prefix"))
        write_self = s("sources.write") - p3
        named = {
            "sources.scan_s": p0,
            "parse.self_s": p1 - p0,
            "enrich.self_s": p2 - p1,
            "router.tag_self_s": p3 - p2,
            "sources.write_s": write_self,
            "manifest.fingerprint_s": s("manifest.fingerprint"),
            "manifest.partition_counts_s": s("manifest.partition_counts"),
            "aggregate.sink_counts_s": s("aggregate.sink_counts"),
            "aggregate.hourly_s": s("aggregate.hourly"),
            "aggregate.conv_count_s": s("aggregate.conv_count"),
        }
        attributed = sum(named.values())
        wall = s("pipeline.run")
        traced_wall = sum(
            s(n) * (self.prefix_repeats if n.endswith((".scan", ".prefix")) else 1)
            for n in (
                "sources.scan", "parse.prefix", "enrich.prefix", "router.prefix",
                "sources.write", "manifest.fingerprint", "manifest.partition_counts",
                "aggregate.sink_counts", "aggregate.hourly", "aggregate.conv_count",
            )
        )
        return {
            **named,
            "sources.write_files": files,
            "sources.write_bytes": nbytes,
            "pipeline.wall_s": wall,
            "pipeline.attributed_frac": attributed / wall,
            "pipeline.unattributed_s": wall - attributed,
            "trace.overhead_s": traced_wall - wall,
        }


# --------------------------------------------------------------- corpus_build


class CorpusBuild:
    name = "corpus_build"
    spec = gen.InputSpec(
        n_turns=16_000, n_files=8, exact_replay_frac=0.05, near_replay_frac=0.05
    )
    warmup_spec = gen.InputSpec(
        n_turns=4_000, n_files=8, exact_replay_frac=0.05, near_replay_frac=0.05
    )
    warmup_units = 2
    # jobs/run_transcript_corpus.py defaults
    budget = 65536
    boilerplate_frac = 0.1
    min_tokens = 1
    threshold = 0.9
    shingle_k = 3

    def prepare(self, spark: SparkSession, seed: int, path: str, warm: bool = False) -> Prepared:
        spec = self.warmup_spec if warm else self.spec
        return Prepared(gen.write_input(spark, spec, seed, path), None)

    def _fingerprint(self, turns: DataFrame, out_dir: str) -> str:
        return fingerprint_input(
            out_dir, self.budget, self.boilerplate_frac, self.min_tokens,
            self.threshold, self.shingle_k, False, None, fingerprint_source(turns),
        )

    def _docs(self, turns: DataFrame) -> DataFrame:
        docs = corpus.transcripts_to_docs(turns, boilerplate_conv_frac=self.boilerplate_frac)
        docs = textstats.with_lang_pred(textstats.with_quality(docs))
        return docs.filter(F.col("n_tokens") >= self.min_tokens)

    def _pairs(self, docs: DataFrame) -> DataFrame:
        return dedup.ngram_jaccard_pairs(
            docs, id_col="conv_id", k=self.shingle_k, threshold=self.threshold
        )

    def _kept(self, docs: DataFrame, pairs: DataFrame) -> DataFrame:
        groups = dedup.neardup_groups(docs.select(F.col("conv_id").alias("id")), pairs)
        return dedup.drop_near_duplicates(docs, groups, id_col="conv_id")

    def _pack_write(self, kept: DataFrame, shards_path: str) -> None:
        packed = corpus.pack_shards(
            kept, budget=self.budget, id_col="conv_id", token_count_col="n_tokens"
        )
        out = kept.join(packed.select("conv_id", "pack_key", "shard"), "conv_id")
        out.write.mode("overwrite").partitionBy("shard").parquet(shards_path)

    def _check(self, prep: Prepared, docs: DataFrame, kept: DataFrame, n_docs: int,
               n_kept: int, n_shard_rows: int) -> None:
        dropped = {
            r["conv_id"]
            for r in docs.join(kept, "conv_id", "left_anti").select("conv_id").collect()
        }
        check(n_docs == prep.info.n_convs, f"{n_docs} docs from {prep.info.n_convs} conversations")
        check(n_kept + len(dropped) == n_docs, "kept + dropped != n_docs")
        missed = set(prep.info.exact_replays) - dropped
        check(not missed, f"{len(missed)} planted exact replays were kept")
        check(n_shard_rows == n_kept, "packed shards do not hold every kept doc")

    def run_once(self, spark: SparkSession, prep: Prepared, out_dir: str) -> Sample:
        """The ``jobs/run_transcript_corpus.py`` stages with its manifest
        record; the rerun takes the job's manifest resume path."""
        path = prep.info.path
        shards_path = f"{out_dir}/shards"
        t0 = time.perf_counter()
        turns = spark.read.parquet(path)
        manifest = Manifest(f"{out_dir}/_manifest.jsonl")
        fp = self._fingerprint(turns, out_dir)
        docs = self._docs(turns).persist()
        n_docs = docs.count()
        pairs = self._pairs(docs).persist()
        n_pairs = pairs.count()
        kept = self._kept(docs, pairs).persist()
        n_kept = kept.count()
        self._pack_write(kept, shards_path)
        pc = partition_row_counts(spark.read.parquet(shards_path))
        metrics = {"n_docs": n_docs, "n_neardup_pairs": n_pairs, "n_kept": n_kept}
        manifest.record(
            StageRecord(
                stage="shards", input_fingerprint=fp, output_path=shards_path,
                rows=sum(pc.values()), n_partitions=len(pc), partition_rows=pc,
                metrics=metrics,
            )
        )
        wall = time.perf_counter() - t0
        try:
            self._check(prep, docs, kept, n_docs, n_kept, sum(pc.values()))
        finally:
            docs.unpersist()
            pairs.unpersist()
            kept.unpersist()

        t1 = time.perf_counter()
        turns = spark.read.parquet(path)
        prior = Manifest(f"{out_dir}/_manifest.jsonl").lookup(
            "shards", self._fingerprint(turns, out_dir)
        )
        check(prior is not None and os.path.exists(shards_path), "rerun did not resume")
        n_resumed = spark.read.parquet(shards_path).count()
        resume = time.perf_counter() - t1
        check(prior["metrics"] == metrics and n_resumed == n_kept, "resumed outputs differ")
        return Sample(wall, [resume], [wall * 1e3])

    def trace(self, spark: SparkSession, prep: Prepared, out_dir: str, tr: Tracer) -> dict:
        turns = spark.read.parquet(prep.info.path)
        with tr.span("corpus.assemble", "corpus.assemble"):
            noop(corpus.transcripts_to_docs(turns, boilerplate_conv_frac=self.boilerplate_frac))
        with tr.span("textstats.annotate", "textstats"):
            docs = self._docs(turns).persist()
            n_docs = docs.count()
        with tr.span("dedup.pairs", "dedup.pairs"):
            pairs = self._pairs(docs).persist()
            n_pairs = pairs.count()
        with tr.span("dedup.groups", "dedup.groups"):
            kept = self._kept(docs, pairs).persist()
            n_kept = kept.count()
        shards_path = f"{out_dir}/shards"
        with tr.span("corpus.pack_write", "corpus.pack"):
            self._pack_write(kept, shards_path)
        try:
            self._check(prep, docs, kept, n_docs, n_kept,
                        spark.read.parquet(shards_path).count())
        finally:
            docs.unpersist()
            pairs.unpersist()
            kept.unpersist()
        s = tr.seconds
        return {
            "corpus.assemble_s": s("corpus.assemble"),
            "textstats.annotate_s": s("textstats.annotate") - s("corpus.assemble"),
            "dedup.pairs_s": s("dedup.pairs"),
            "dedup.pairs_found": n_pairs,
            "dedup.groups_s": s("dedup.groups"),
            "corpus.pack_write_s": s("corpus.pack_write"),
        }


# --------------------------------------------------------------- route_stream


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress per query run, so batch latencies come
    from the engine's own ``durationMs`` and not from polling."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._started: list[str] = []
        self._progress: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._started.append(str(event.runId))
            self._progress[str(event.runId)] = []

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cond:
            self._progress.setdefault(str(p.runId), []).append(
                {"rows": p.numInputRows, **dict(p.durationMs)}
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._terminated.add(str(event.runId))
            self._cond.notify_all()

    def mark(self) -> int:
        with self._cond:
            return len(self._started)

    def batches_since(self, mark: int, timeout: float = 60.0) -> tuple[str, list[dict]]:
        """Wait for the one query started after ``mark`` to terminate, then
        return its run id and the progress of its non-empty batches."""
        with self._cond:
            ok = self._cond.wait_for(
                lambda: len(self._started) == mark + 1
                and self._started[mark] in self._terminated,
                timeout,
            )
            if not ok:
                raise CheckFailed(f"no terminated stream after mark {mark}: {self._started[mark:]}")
            run_id = self._started[mark]
            return run_id, [b for b in self._progress[run_id] if b["rows"] > 0]


class RouteStream:
    name = "route_stream"
    spec = gen.InputSpec(n_turns=32_000, n_files=8, rows_per_file=400, hot_fraction=0.10)
    # The first unit uses about twice the JVM CPU of later ones; after two
    # warm-up units the first timed unit uses a third more.  More warm-up
    # would make a run last well over a minute.
    warmup_spec = spec
    warmup_units = 2
    # A restart from the checkpoint takes half a second and swings by a third
    # from call to call, so each unit restarts several times and resume_s is
    # the median over all of them.
    resume_repeats = 3

    def __init__(self) -> None:
        self.listener: ProgressListener | None = None

    def prepare(self, spark: SparkSession, seed: int, path: str, warm: bool = False) -> Prepared:
        if self.listener is None:
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)
        info = gen.write_input(spark, self.warmup_spec if warm else self.spec, seed, path)
        return Prepared(info, oracle.expected_outputs(path, with_aggregates=False))

    def _stream(self, spark: SparkSession, prep: Prepared, out_dir: str):
        mark = self.listener.mark()
        counts = run_stream_routed(spark, prep.info.path, out_dir)
        run_id, batches = self.listener.batches_since(mark)
        return counts, run_id, batches

    def _check_batches(self, prep: Prepared, batches: list[dict]) -> None:
        check(
            len(batches) == math.ceil(prep.info.files / FILES_PER_TRIGGER),
            f"{len(batches)} micro-batches for {prep.info.files} files",
        )
        check(sum(b["rows"] for b in batches) == prep.info.rows, "stream read rows != input rows")

    def run_once(self, spark: SparkSession, prep: Prepared, out_dir: str) -> Sample:
        t0 = time.perf_counter()
        counts, _, batches = self._stream(spark, prep, out_dir)
        wall = time.perf_counter() - t0
        resume, reruns = [], []
        for _ in range(self.resume_repeats):
            t1 = time.perf_counter()
            reruns.append(self._stream(spark, prep, out_dir))
            resume.append(time.perf_counter() - t1)
        check(counts == prep.expected.per_sink, "stream per-sink counts differ from DuckDB")
        self._check_batches(prep, batches)
        for counts2, _, resumed in reruns:
            check(not resumed and counts2 == counts, "restart from the checkpoint reprocessed input")
        return Sample(wall, resume, [float(b["triggerExecution"]) for b in batches])

    def trace(self, spark: SparkSession, prep: Prepared, out_dir: str, tr: Tracer) -> dict:
        with tr.span("streaming.run"):
            counts, run_id, batches = self._stream(spark, prep, out_dir)
        # micro-batch jobs run under the query's run id as their job group
        tr.labels[run_id] = "streaming"
        with tr.span("streaming.readback", "streaming"):
            routed = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch=*")
            readback = {r["sink"]: r["n"] for r in router.sink_counts(routed).collect()}
        check(counts == prep.expected.per_sink, "stream per-sink counts differ from DuckDB")
        check(readback == counts, "read-back differs from the stream's own counts")
        self._check_batches(prep, batches)
        return {
            "streaming.batches": len(batches),
            "streaming.add_batch_ms_p50": statistics.median([b["addBatch"] for b in batches]),
            "streaming.planning_ms_p50": statistics.median([b["queryPlanning"] for b in batches]),
            "streaming.wal_commit_ms_p50": statistics.median([b["walCommit"] for b in batches]),
            "streaming.readback_s": tr.seconds("streaming.readback"),
        }


WORKLOADS = {w.name: w for w in (RouteBatch, CorpusBuild, RouteStream)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path
