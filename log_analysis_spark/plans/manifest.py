"""Checkpoint manifest: per-stage lineage + metrics, idempotent resume.

The reference's de-facto checkpoints are the files each tool writes between
process steps (download_and_merge.sh:7-12).  Rebuild (SURVEY.md §4.2 last
row): a manifest table keyed by (stage, input_fingerprint) holding row
counts and per-partition metrics; a stage whose manifest entry matches its
input fingerprint AND whose output exists is skipped on rerun, so the whole
DAG resumes mid-pipeline without double-writing (sinks are written with
overwrite semantics, never blind append).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class StageRecord:
    stage: str
    input_fingerprint: str
    output_path: str
    rows: int
    n_partitions: int
    partition_rows: dict[str, int]
    metrics: dict[str, float]


class Manifest:
    """JSON-lines manifest (one record per completed stage run).

    On a cluster this would be an Iceberg table written with
    snapshot-isolation; locally a jsonl file keeps the same contract
    (append-only, idempotent keyed on (stage, input_fingerprint)).
    """

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def _load(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def lookup(self, stage: str, input_fingerprint: str) -> dict | None:
        """Latest-wins: a record is only valid while it is the MOST RECENT
        run of its stage.  Stages share one output path per manifest, so a
        newer run with a different fingerprint rewrote that path and every
        older completion record is stale — returning it would resume an
        A→B→A input flip from B's output.  The append-only log stays
        append-only; invalidation is positional.
        """
        for rec in reversed(self._load()):
            if rec["stage"] == stage:
                return rec if rec["input_fingerprint"] == input_fingerprint else None
        return None

    def lookup_any(self, stage: str, input_fingerprint: str) -> dict | None:
        """Match ANY completion record for (stage, fingerprint), not just the
        latest.  Correct for stages where every run owns its OWN output path
        (e.g. per-increment ``ingest_id=<n>`` dirs): older records stay valid
        because no newer run rewrote their output.  For stages sharing one
        output path, use ``lookup`` (latest-wins) instead."""
        for rec in reversed(self._load()):
            if rec["stage"] == stage and rec["input_fingerprint"] == input_fingerprint:
                return rec
        return None

    def completed(self, stage: str) -> list[dict]:
        """All completion records for ``stage``, oldest first — e.g. the
        ingest history an incremental job replays to number the next run."""
        return [r for r in self._load() if r["stage"] == stage]

    def record(self, rec: StageRecord) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(asdict(rec)) + "\n")


def fingerprint_input(*parts: object) -> str:
    import hashlib

    return hashlib.sha256("::".join(map(str, parts)).encode()).hexdigest()[:16]


def fingerprint_source(df: DataFrame) -> str:
    """Cross-process-stable fingerprint of a DataFrame's file inputs.

    ``semanticHash()`` canonicalizes within one JVM but is NOT stable across
    sessions (the same ``spark.read.parquet(path)`` hashes differently in two
    processes), so a manifest keyed on it silently never resumes across job
    restarts — the exact case a checkpoint manifest exists for.  Instead:
    the sorted input file URIs, plus (size, mtime) for locally stat-able
    paths so an in-place rewrite of the same filename still changes the key.
    A source with no file inputs (in-memory frames in tests, streams) falls
    back to ``semanticHash`` — a correct-direction failure mode: an unstable
    key costs a skipped resume, never a stale result.
    """
    files = sorted(df.inputFiles())
    if not files:
        return fingerprint_input("mem", df.semanticHash())
    parts: list[str] = []
    for uri in files:
        local = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            st = os.stat(local)
            parts.append(f"{uri}@{st.st_size}@{int(st.st_mtime)}")
        except OSError:
            parts.append(uri)
    return fingerprint_input("files", *parts)


def partition_row_counts(df: DataFrame) -> dict[str, int]:
    """Per-partition lineage metric (spark_partition_id groupBy — one pass)."""
    rows = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return {str(r["_pid"]): r["n"] for r in rows}

