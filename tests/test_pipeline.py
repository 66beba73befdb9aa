from __future__ import annotations

import json

from pyspark.sql import functions as F

from log_analysis_spark.plans.manifest import fingerprint_input, fingerprint_source
from log_analysis_spark.plans.pipeline import run_pipeline


def _disk_sink_counts(spark, routed_path):
    """Per-sink rows as they are on disk — independent of the write's
    Observation that ``per_sink_counts`` and the manifest come from."""
    rows = spark.read.parquet(routed_path).groupBy("sink").count().collect()
    return {r["sink"]: r["count"] for r in rows}


def _route_record(out):
    with open(f"{out}/_manifest.jsonl") as f:
        recs = [json.loads(line) for line in f]
    return [r for r in recs if r["stage"] == "route"][-1]


def test_spark_jvm_compiles_huge_methods(spark):
    """The fused parse→enrich→tag stage generates a method over HotSpot's
    8,000-byte huge-method limit; get_spark must launch the JVM with
    ``-XX:-DontCompileHugeMethods`` or that stage runs interpreted."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("DontCompileHugeMethods").getValue() == "false"


def test_pipeline_end_to_end_and_resume(spark, transcripts, tmp_path):
    out = str(tmp_path / "pipe")
    res = run_pipeline(spark, transcripts, out, parse_impl="native")
    total = transcripts.count()
    # routing completeness: per-sink counts sum to total
    assert sum(res.per_sink_counts.values()) == total == res.n_turns
    assert res.per_sink_counts["errors"] > 0
    assert res.stages_skipped == []

    # hourly rollup is complete too
    assert res.hourly_rollup.agg(F.sum("n")).first()[0] == total

    # manifest recorded per-sink lineage, matching what is on disk
    with open(f"{out}/_manifest.jsonl") as f:
        recs = [json.loads(line) for line in f]
    assert recs and recs[-1]["stage"] == "route"
    assert recs[-1]["rows"] == total
    on_disk = _disk_sink_counts(spark, res.routed_path)
    assert res.per_sink_counts == recs[-1]["partition_rows"] == on_disk
    # observe()-riding stage metrics (zero extra passes)
    assert recs[-1]["metrics"]["rows_written"] == total
    assert recs[-1]["metrics"]["error_rows"] == res.per_sink_counts["errors"]
    assert recs[-1]["metrics"]["null_class_rows"] == 0

    # resume: second run skips the route stage, produces identical counts
    res2 = run_pipeline(spark, transcripts, out, parse_impl="native")
    assert res2.stages_skipped == ["route"]
    assert res2.per_sink_counts == res.per_sink_counts
    assert _route_record(out)["partition_rows"] == _disk_sink_counts(
        spark, res2.routed_path
    ) == res2.per_sink_counts

    # idempotence: no double-counted rows after the rerun
    assert spark.read.parquet(res.routed_path).count() == total


def test_pipeline_changed_input_clears_stale_sinks(spark, transcripts, tmp_path):
    """Dynamic partition overwrite is only sound for same-input resume: a
    rerun with CHANGED input into the same routed dir must not keep sinks
    the new input doesn't produce (they'd silently leak stale rows into
    per_sink_counts and every downstream aggregate)."""
    out = str(tmp_path / "pipe")
    res = run_pipeline(spark, transcripts, out, parse_impl="native")
    assert res.per_sink_counts.get("tool_calls", 0) > 0

    changed = transcripts.filter(F.col("tool") == "-")
    res2 = run_pipeline(spark, changed, out, parse_impl="native")
    assert res2.stages_skipped == []  # different input -> no resume
    assert "tool_calls" not in res2.per_sink_counts
    assert sum(res2.per_sink_counts.values()) == changed.count()
    on_disk = _disk_sink_counts(spark, res2.routed_path)
    assert "tool_calls" not in on_disk
    assert res2.per_sink_counts == _route_record(out)["partition_rows"] == on_disk

    # and same-input rerun after that still resumes cleanly
    res3 = run_pipeline(spark, changed, out, parse_impl="native")
    assert res3.stages_skipped == ["route"]
    assert res3.per_sink_counts == res2.per_sink_counts
    assert _disk_sink_counts(spark, res3.routed_path) == res3.per_sink_counts


def test_pipeline_old_manifest_record_recomputes(spark, transcripts, tmp_path):
    """A route record from before the counts rode the write keys
    ``partition_rows`` by Spark partition id; a rerun must recompute
    instead of reporting those ids as sinks."""
    out = str(tmp_path / "old")
    res = run_pipeline(spark, transcripts, out, parse_impl="native")
    # the record the earlier layout wrote for this input and out_dir
    old_fp = fingerprint_input(out, "native", fingerprint_source(transcripts))
    total = res.n_turns
    with open(f"{out}/_manifest.jsonl", "w") as f:
        for stage, pr in (("route.intent", {}), ("route", {"0": total - 1, "1": 1})):
            f.write(json.dumps({
                "stage": stage, "input_fingerprint": old_fp,
                "output_path": res.routed_path, "rows": total if pr else 0,
                "n_partitions": len(pr), "partition_rows": pr, "metrics": {},
            }) + "\n")

    res2 = run_pipeline(spark, transcripts, out, parse_impl="native")
    assert res2.stages_skipped == []
    assert res2.per_sink_counts == res.per_sink_counts
    assert res2.per_sink_counts == _disk_sink_counts(spark, res2.routed_path)
    assert _route_record(out)["partition_rows"] == res.per_sink_counts


def test_pipeline_input_flip_does_not_resume_from_other_input(
    spark, transcripts, tmp_path
):
    """A -> B -> A into the same out_dir: the third run must recompute from
    input A, not skip the route stage on A's historic (now-stale) manifest
    record and silently serve B's routed rows."""
    out = str(tmp_path / "flip")
    res_a1 = run_pipeline(spark, transcripts, out, parse_impl="native")
    changed = transcripts.filter(F.col("tool") == "-")
    run_pipeline(spark, changed, out, parse_impl="native")

    res_a2 = run_pipeline(spark, transcripts, out, parse_impl="native")
    assert res_a2.stages_skipped == []  # stale record must NOT resume
    assert res_a2.per_sink_counts == res_a1.per_sink_counts


def test_pipeline_arrow_parse_same_routing(spark, transcripts, tmp_path):
    out_a = str(tmp_path / "pa")
    out_b = str(tmp_path / "pb")
    ra = run_pipeline(spark, transcripts, out_a, parse_impl="native")
    rb = run_pipeline(spark, transcripts, out_b, parse_impl="arrow")
    assert ra.per_sink_counts == rb.per_sink_counts
