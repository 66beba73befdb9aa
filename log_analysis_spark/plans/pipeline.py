"""End-to-end DAG: parse → enrich → route → aggregate.

The Spark rewrite of the reference's flagship `download_and_merge.sh` →
jq-cascade lifecycle (SURVEY.md §3.1): one SparkSession job, a single scan,
broadcast enrich joins, a one-pass router fan-out write, and one aggregation
pass per output — where the reference re-reads its combined file ~25 times.

Stages checkpoint through the manifest (plans/manifest.py) so a killed run
resumes without recomputing or double-writing completed stages.  Per-sink
counts ride the write as an ``Observation`` and land in the route record, so
neither a cold run nor a resume re-scans the routed output to count it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from log_analysis_spark.datagen import role_taxonomy, tool_registry
from log_analysis_spark.functions.parse import parse_turns
from log_analysis_spark.operators import aggregate as agg
from log_analysis_spark.operators import enrich, router
from log_analysis_spark.plans.manifest import (
    Manifest,
    StageRecord,
    fingerprint_input,
    fingerprint_source,
)
from log_analysis_spark.sources.iceberg import route_write_resumable


# Folded into the route fingerprint: a resumed run reports the route
# record's ``partition_rows`` as its per-sink counts, so a record whose
# ``partition_rows`` were keyed by Spark partition id (written before the
# counts rode the write) must never match.
ROUTE_LAYOUT = "partition_rows=sink"


@dataclass
class PipelineResult:
    routed_path: str
    per_sink_counts: dict[str, int]
    hourly_rollup: DataFrame
    conv_counts: DataFrame
    n_turns: int
    wall_sec: float
    stages_skipped: list[str] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    parse_impl: str = "native",
    manifest_path: str | None = None,
    input_fingerprint: str | None = None,
) -> PipelineResult:
    """Run the full parse→enrich→route→aggregate DAG over ``turns``."""
    t0 = time.monotonic()
    manifest = Manifest(manifest_path or f"{out_dir}/_manifest.jsonl")
    # default fingerprint includes a content hash of the input: two runs
    # into the same out_dir with DIFFERENT input must not share resume state,
    # and the SAME input resubmitted from a new process must still resume
    # (file list + size + mtime; semanticHash fallback for in-memory frames)
    source_fp = input_fingerprint or fingerprint_input(
        out_dir, parse_impl, fingerprint_source(turns)
    )
    fp = fingerprint_input(ROUTE_LAYOUT, source_fp)
    skipped: list[str] = []

    # -- parse + enrich + tag: one fused projection pipeline (no shuffle) --
    parsed = parse_turns(turns, impl=parse_impl)
    enriched = enrich.enrich_tools(
        enrich.enrich_roles(parsed, role_taxonomy(spark)), tool_registry(spark)
    )
    rules = router.default_rules()
    tagged = router.tag_sinks(enriched, rules)
    sinks = [r.sink for r in rules] + [router.DEFAULT_REMAINDER]

    # -- route: single fan-out write, hive-partitioned by sink --------------
    routed_path = f"{out_dir}/routed"
    prior = manifest.lookup("route", fp)
    if prior is not None and os.path.exists(routed_path):
        skipped.append("route")
        per_sink = prior["partition_rows"]
    else:
        # per-sink counts and stage metrics ride the write action itself as
        # an Observation — lineage with zero extra passes over the output
        obs = Observation("route_metrics")
        observed = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_written"),
            F.sum((F.col("turn_class") == "error").cast("long")).alias("error_rows"),
            F.sum(F.col("turn_class").isNull().cast("long")).alias("null_class_rows"),
            *(F.count_if(F.col("sink") == s).alias(f"sink={s}") for s in sinks),
        )
        # replace-partition semantics (Iceberg overwritePartitions, or the
        # dynamic-overwrite parquet fallback): a run killed mid-write leaves
        # partial sink partitions, and the rerun replaces exactly those —
        # the manifest skips COMPLETE stages, this makes PARTIAL stages safe.
        #
        # Dynamic overwrite is only sound for SAME-input resume: it replaces
        # just the partitions present in the new data, so running CHANGED
        # input into an existing routed dir would let a sink that had rows
        # before but none now survive on disk and leak stale rows into every
        # downstream aggregate.  An "intent" manifest record (written before
        # the first write attempt for this fingerprint) distinguishes the two
        # cases: same-fp retry → resume partition-by-partition; new/changed
        # fp → clear the dir first.
        if manifest.lookup("route.intent", fp) is None:
            shutil.rmtree(routed_path, ignore_errors=True)
            manifest.record(
                StageRecord(
                    stage="route.intent",
                    input_fingerprint=fp,
                    output_path=routed_path,
                    rows=0,
                    n_partitions=0,
                    partition_rows={},
                    metrics={},
                )
            )
        route_write_resumable(observed, routed_path)
        # the write is one shuffle-free result stage, so each task's metrics
        # are merged once even when a task is retried
        m = obs.get
        per_sink = {s: m[f"sink={s}"] for s in sinks if m[f"sink={s}"]}
        manifest.record(
            StageRecord(
                stage="route",
                input_fingerprint=fp,
                output_path=routed_path,
                rows=m["rows_written"],
                n_partitions=len(per_sink),
                partition_rows=per_sink,
                metrics={k: m[k] for k in ("rows_written", "error_rows", "null_class_rows")},
            )
        )

    # -- aggregate: the one read of the routed output (schema known, so no
    # inference job); the plain groupBy's partial aggregate already folds a
    # hot conversation to one row per map task before the exchange
    routed = spark.read.schema(tagged.schema).parquet(routed_path)
    total = sum(per_sink.values())
    hourly = agg.hourly_rollup(routed, keys=["sink", "role", "tool"])
    conv_counts = routed.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))

    return PipelineResult(
        routed_path=routed_path,
        per_sink_counts=per_sink,
        hourly_rollup=hourly,
        conv_counts=conv_counts,
        n_turns=total,
        wall_sec=time.monotonic() - t0,
        stages_skipped=skipped,
    )

