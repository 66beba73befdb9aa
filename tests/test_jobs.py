"""The shared job skeleton (``plans/job.py``) and the ``run_corpus`` gate
table, tested in process: the command line of every job, the resume
fingerprint, and the Spark jobs a counted gate costs."""

from __future__ import annotations

import argparse
import importlib.util
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from log_analysis_spark.plans import job

REPO = Path(__file__).resolve().parents[1]

_SOURCE = {"--master", "--out", "--sf-dir", "-h"}
_INCREMENTAL = {
    "--batch", "--compact-every", "--compact-now", "--id-col", "--master",
    "--n-buckets", "--state", "--threshold", "-h",
}
# each job's options as its --help lists them
JOB_OPTIONS = {
    "run_corpus": _SOURCE | {
        "--badwords", "--badwords-max", "--bench", "--block-domains",
        "--budget", "--budget-mix-tokens", "--budget-mix-weights",
        "--classifier-buckets", "--classifier-min-mean",
        "--classifier-pareto-alpha", "--classifier-target",
        "--decontam-min-hits", "--decontam-n", "--docs", "--dsir-target",
        "--dsir-top", "--fuzzy-decontam-threshold", "--gopher",
        "--gopher-min-stopwords", "--gopher-min-words",
        "--max-bigram-surprise", "--max-loop-frac", "--max-surprise",
        "--min-ttr", "--mix-col", "--no-repetition-filter",
        "--pack-order-col", "--ppl-buckets", "--ppl-keep", "--rates",
        "--report", "--scrub-pii", "--soft-dedup", "--span-action",
        "--span-k", "--span-max-coverage", "--split-eval-frac",
        "--strata-col", "--target-fraction", "--temperature", "--vocab-top",
    },
    "run_dedup": _SOURCE | {"--docs", "--method", "--shingle-k", "--threshold"},
    "run_events_analytics": _SOURCE | {
        "--asof-left-type", "--asof-right-type", "--asof-tolerance-sec",
        "--attr-conv-type", "--attr-lookback-hours", "--attr-touch-types",
        "--burst-trail-hours", "--burst-z", "--cusum-h", "--cusum-k-milli",
        "--funnel", "--hll-p", "--input", "--kmv-k", "--ohlc-bucket-sec",
        "--quantile-resolution", "--quantiles", "--robust-k-milli",
        "--skew-frac", "--slide-sec", "--window-sec",
    },
    "run_incremental_dedup": _INCREMENTAL | {
        "--bands", "--n-hashes", "--shingle-k", "--text-col",
    },
    "run_incremental_embed": _INCREMENTAL | {
        "--band-bits", "--dim", "--n-planes", "--seed", "--vec-col",
    },
    "run_pipeline": _SOURCE | {
        "--expect", "--input", "--parse-impl", "--seq-audit",
        "--seq-audit-max-bad-frac",
    },
    "run_retrieval": _SOURCE | {
        "--docs", "--hybrid", "--k", "--k-each", "--phrase", "--query",
        "--rrf-k0",
    },
    "run_transcript_corpus": _SOURCE | {
        "--boilerplate-frac", "--budget", "--dedup-threshold", "--input",
        "--min-tokens", "--no-dedup", "--shingle-k", "--strip-line-frac",
    },
}


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "jobs" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", sorted(JOB_OPTIONS))
def test_job_help_lists_its_options_without_a_jvm(name, tmp_path):
    """``--help`` exits 0 and lists the job's options.  SPARK_HOME points
    at an empty dir, so a JVM launch would fail the run."""
    out = subprocess.run(
        [sys.executable, str(REPO / "jobs" / f"{name}.py"), "--help"],
        env={**os.environ, "SPARK_HOME": str(tmp_path)},
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    listed = {o.rstrip(",") for o in re.findall(r"^  (-\S+)", out.stdout, re.M)}
    assert listed == JOB_OPTIONS[name]


def test_resume_fingerprint_covers_every_option_but_master():
    """A rerun resumes only with identical options: changing any parsed
    option (``--robust-k-milli`` included) or the source changes the
    fingerprint; changing ``--master`` does not."""
    ap = _load_job("run_events_analytics").parser()
    argv = ["--sf-dir", "/data", "--out", "/out"]
    base = ap.parse_args(argv)
    fp = job.fingerprint(base, "source")
    assert job.fingerprint(ap.parse_args(argv), "source") == fp
    assert job.fingerprint(ap.parse_args([*argv, "--master", "local[2]"]), "source") == fp
    assert job.fingerprint(ap.parse_args([*argv, "--robust-k-milli", "3500"]), "source") != fp
    assert job.fingerprint(base, "other source") != fp
    for dest, value in vars(base).items():
        changed = argparse.Namespace(**{**vars(base), dest: ("changed", value)})
        assert (job.fingerprint(changed, "source") == fp) == (dest == "master"), dest


def test_corpus_counted_gates_run_one_spark_job_each(spark, sf_dir):
    """Each counted gate is one Spark job: its row count rides its eager
    ``localCheckpoint``, and an unchanged frame (no sampling) reuses the
    last gate's count.  A gate that is off reports None: with Gopher on and
    span dedup off, ``n_after_span_dedup`` is None, not a stale count."""
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import textstats

    rc = _load_job("run_corpus")
    args = rc.parse_args([
        "--sf-dir", sf_dir, "--out", "/unused", "--no-repetition-filter",
        "--gopher", "--gopher-min-words", "5", "--gopher-min-stopwords", "1",
        "--block-domains", "tracker.com", "--badwords", "vector",
        "--badwords-max", "2",
    ])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint(eager=True)
    sc = spark.sparkContext
    sc.setJobGroup("corpus-gates", "run_corpus gate table")
    try:
        out, counts = rc.run_gates(docs, rc.gates(args, None))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    on = ("n_after_gopher", "n_after_domain_blocklist", "n_after_badwords")
    assert len(sc.statusTracker().getJobIdsForGroup("corpus-gates")) == len(on)
    assert {k for k, v in counts.items() if v is not None} == {*on, "n_after_sampling"}
    assert counts["n_after_span_dedup"] is None
    assert counts["n_after_repetition_filter"] is None
    gopher = textstats.gopher_rules(docs, min_words=5, min_stopwords=1).filter(
        F.col("keep_gopher")
    )
    assert counts["n_after_gopher"] == gopher.count() < docs.count()
    assert counts["n_after_badwords"] < counts["n_after_domain_blocklist"]
    assert counts["n_after_sampling"] == counts["n_after_badwords"] == out.count()


def test_transcript_corpus_strip_leaves_nothing_persisted(spark, sf_dir, tmp_path):
    """``--strip-line-frac`` persists the stripped frame for its line count;
    the job unpersists it with its other frames after the shards write.
    (Dedup is off: its per-round ``localCheckpoint``s are left to the
    ContextCleaner.)"""
    tc = _load_job("run_transcript_corpus")
    args = tc.parser().parse_args([
        "--sf-dir", sf_dir, "--out", str(tmp_path), "--strip-line-frac", "0.05",
        "--no-dedup",
    ])
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    summary, written = tc.corpus_shards(args, job.read_source(spark, args, "transcripts"))
    assert summary["n_lines_removed"] is not None
    assert written == {"shards": summary["n_kept"]} and summary["n_kept"] > 0
    # the cleaner may drop earlier tests' blocks meanwhile: compare new ids
    assert set(persisted().keys()) - before == set()
