"""Streaming near-dup corpus ingestion: the incremental LSH ingests (text
MinHash and embedding sign-band) driven by Structured Streaming's file
source.

The batch jobs (jobs/run_incremental_{dedup,embed}.py) ingest one increment
per spark-submit; this is the same state machine running CONTINUOUSLY — new
parquet files landing in a watch directory become micro-batches, each
deduped within itself and against everything previously accepted.  Both
kinds run one ``foreachBatch`` driver over the jobs' own
``incremental.commit_increment``, so a drifted LSH knob raises before the
micro-batch writes anything, exactly like the jobs.

Exactly-once story (the streaming analogue of the batch job's manifest):
the checkpoint records the last committed micro-batch id, and every write
for batch ``b`` lands under ``ingest_id=<b>`` subdirectories, so a
replayed batch OVERWRITES its own output instead of double-appending.
The state read inside the batch handler filters to ``ingest_id < b``
(partition pruning) — a replayed batch therefore re-reads exactly the
state its first attempt saw, never its own partial writes: idempotent by
construction, same rule as the batch job's crash recovery.

Restarting the stream with the same checkpoint resumes from unprocessed
files only; the accepted corpus is the union of ``accepted/ingest_id=*``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

from log_analysis_spark.operators import incremental, incremental_embed, similarity
from log_analysis_spark.sources import sinks


def _drain(
    spark: SparkSession,
    src_path: str,
    schema: str,
    state_dir: str,
    id_col: str,
    kind_for: Callable[[DataFrame], incremental.IncrementKind],
    max_files_per_trigger: int | None,
) -> dict[str, int]:
    """Commit every unprocessed file of ``src_path`` (ingest id =
    micro-batch id) and return the state dir's accepted/rejected totals,
    summed from the footers of the files every call on it committed.
    A micro-batch's error is re-raised as itself, not wrapped in a
    ``StreamingQueryException``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    failures: list[Exception] = []

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        try:
            incremental.commit_increment(
                kind_for(batch_df), batch_df, state_dir, batch_id, id_col
            )
        except Exception as e:
            failures.append(e)
            raise

    q = (
        reader.parquet(src_path).writeStream.foreachBatch(ingest)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
        .start()
    )
    try:
        q.processAllAvailable()
    except StreamingQueryException:
        if failures:
            raise failures[-1] from None
        raise
    finally:
        q.stop()

    # totals over every call on this state dir, not just this drain
    def total(table: str) -> int:
        rows = sinks.footer_rows(f"{state_dir}/{table}", ("ingest_id",), "ingest_id")
        return sum(rows.values())

    return {"n_accepted": total("accepted"), "n_rejected": total("rejects")}


def run_stream_neardup_ingest(
    spark: SparkSession,
    src_path: str,
    state_dir: str,
    doc_schema: str = "doc_id string, text string",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
) -> dict[str, int]:
    """Drain ``src_path`` through the incremental text ingest; returns
    totals.  Call repeatedly with the same ``state_dir``: the derived
    checkpoint makes each call resume from files not yet processed."""
    kind = incremental.text_kind(threshold=threshold, text_col=text_col)
    return _drain(
        spark, src_path, doc_schema, state_dir, id_col, lambda _: kind,
        max_files_per_trigger,
    )


def run_stream_embed_ingest(
    spark: SparkSession,
    src_path: str,
    state_dir: str,
    vec_schema: str = "vec_id long, embedding array<float>",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    dim: int | None = None,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 42,
    max_files_per_trigger: int | None = None,
) -> dict[str, int]:
    """Drain ``src_path`` through the incremental embedding ingest (EXACT
    cosine over the persisted unit store); returns totals.  Call repeatedly
    with the same ``state_dir``.  ``dim`` defaults to the width of each
    micro-batch, pinned with the LSH knobs like the batch job's."""

    def kind_for(batch: DataFrame) -> incremental.IncrementKind:
        return incremental_embed.embed_kind(
            dim or similarity._validate_dim(batch, vec_col, None),
            threshold=threshold, n_planes=n_planes, band_bits=band_bits,
            seed=seed, vec_col=vec_col,
        )

    return _drain(
        spark, src_path, vec_schema, state_dir, id_col, kind_for,
        max_files_per_trigger,
    )
