"""The skeleton every ``jobs/`` entrypoint builds on: one command line for
the source and output, one session, one source read, and the manifest
resume of a job that writes one output directory.

A new job starts here::

    ap = job.parser("documents")          # --docs | --sf-dir, --out, --master
    ap.add_argument("--knob", ...)
    args = ap.parse_args()                # usage errors exit before Spark
    spark = job.session(args)
    docs = job.read_source(spark, args, "documents")

Nothing here imports pyspark at module level, so ``--help`` and usage
errors never start a JVM.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

# source kind -> (its path flag, its file under --sf-dir); the transcripts
# have no file there: they are derived from the events table
SOURCES = {
    "transcripts": ("--input", None),
    "documents": ("--docs", "documents.parquet"),
    "events": ("--input", "events.parquet"),
}


def parser(source: str | None = None) -> argparse.ArgumentParser:
    """The job's command line: with a ``source`` kind, the path flag and
    ``--sf-dir`` as a required either-or plus a required ``--out``; always
    ``--master``."""
    ap = argparse.ArgumentParser()
    if source is not None:
        flag, sf_file = SOURCES[source]
        src = ap.add_mutually_exclusive_group(required=True)
        src.add_argument(flag, help=f"{source} table path (parquet)")
        src.add_argument(
            "--sf-dir",
            help=f"testdata dir holding {sf_file}" if sf_file
            else f"testdata dir to derive {source} from",
        )
        ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--master", default=None)
    return ap


def session(args):
    """``get_spark`` named after the running job script, on ``--master``."""
    from log_analysis_spark.session import get_spark

    return get_spark(Path(sys.argv[0]).stem, master=args.master)


def source_path(args, source: str) -> str | None:
    """The parquet path the job reads (None for derived transcripts)."""
    flag, sf_file = SOURCES[source]
    path = getattr(args, flag[2:])
    if path is None and sf_file is not None:
        path = f"{args.sf_dir}/{sf_file}"
    return path


def read_source(spark, args, source: str):
    """The job's input frame: the given path, or its ``--sf-dir`` table."""
    path = source_path(args, source)
    if path is not None:
        return spark.read.parquet(path)
    from log_analysis_spark.datagen import transcripts_from_events

    return transcripts_from_events(spark, args.sf_dir)


def checkpoint_counted(df):
    """``df`` materialized by one eager ``localCheckpoint``, its row count
    observed on that same Spark job: (checkpointed df, rows).

    Materializing a frame that later stages read more than once (a corpus
    gate's progressively longer chain, dedup's pair list) runs its chain
    once, not once per downstream count plus once for the final write.
    ``localCheckpoint`` rather than ``persist`` because it also cuts the
    logical-plan lineage: DSIR and the leakage split reference their input
    3-5 times, so with every corpus gate on the untruncated plan grows as
    branching^stages, and the driver ran out of memory just rendering it.
    Each checkpoint resets the chain to a leaf; its blocks age out with its
    Python reference (ContextCleaner)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    return df, obs.get["rows"]


def fingerprint(args, source_fingerprint: str) -> str:
    """The resume key: every parsed option except ``--master`` (where the
    job runs does not change what it writes), plus the source's files."""
    from log_analysis_spark.plans.manifest import fingerprint_input

    opts = sorted((k, v) for k, v in vars(args).items() if k != "master")
    return fingerprint_input(
        *(f"{k}={v!r}" for k, v in opts), source_fingerprint
    )


def resume(args, stage: str, output: str, source, run) -> dict:
    """The summary of ``run()``, or the recorded one of an identical run.

    For a job whose output is one directory under ``--out``: a run whose
    ``fingerprint`` is the latest ``stage`` record of ``OUT/_manifest.jsonl``
    (``Manifest.lookup``) and whose ``output`` exists returns that record's
    summary plus ``"resumed": true`` without computing anything.  Otherwise
    ``run()`` returns ``(summary, rows per output written)``, and the record
    is appended only after it returned, so a crashed run never resumes.
    """
    import os

    from log_analysis_spark.plans.manifest import (
        Manifest,
        StageRecord,
        fingerprint_source,
    )

    manifest = Manifest(f"{args.out}/_manifest.jsonl")
    fp = fingerprint(args, fingerprint_source(source))
    prior = manifest.lookup(stage, fp)
    if prior is not None and os.path.exists(output):
        return {**prior["metrics"], "resumed": True}
    summary, written = run()
    manifest.record(StageRecord(
        stage=stage, input_fingerprint=fp, output_path=output,
        rows=sum(written.values()), n_partitions=len(written),
        partition_rows=written, metrics=summary,
    ))
    return summary

