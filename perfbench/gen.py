"""Seeded benchmark inputs, built on ``datagen.synth_transcripts``.

``synth_transcripts`` is deterministic and shuffle-free but takes no seed, so
the seed enters through benchmark-side column transforms: conversation ids are
re-keyed through a seeded 64-bit hash, timestamps shift by a seeded offset,
and for ``corpus_build`` the seed picks which conversations are replayed and
which turn of a near replay is edited.  The same seed always writes the same
rows into the same number of files.

Every input is written as parquet with the transcripts schema
(``datagen.TRANSCRIPTS_SCHEMA_DDL``), so the program reads only the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_spark.datagen import synth_transcripts

# Turns per conversation in the synthetic table (synth_transcripts default).
TURNS_PER_CONV = 50


@dataclass(frozen=True)
class InputSpec:
    """Shape of one workload's input."""

    n_turns: int
    n_files: int
    # split each file further into files of at most this many rows
    rows_per_file: int = 0
    hot_fraction: float = 0.0
    exact_replay_frac: float = 0.0
    near_replay_frac: float = 0.0


@dataclass
class InputInfo:
    path: str
    rows: int
    files: int
    bytes: int
    n_convs: int
    exact_replays: list[str]
    near_replays: list[str]

    def summary(self) -> dict:
        return {
            "rows": self.rows,
            "files": self.files,
            "bytes": self.bytes,
            "n_convs": self.n_convs,
            "exact_replays": len(self.exact_replays),
            "near_replays": len(self.near_replays),
        }


def _seed_hash(seed: int, tag: str, *cols) -> F.Column:
    return F.xxhash64(F.lit(int(seed)), F.lit(tag), *cols)


def _rekey(seed: int, tag: str, prefix: str) -> F.Column:
    """Seeded conversation id.  Originals get prefix ``c-`` and replays ``r-``,
    so a replay always sorts after its original and near-dup grouping keeps
    the original as the representative."""
    return F.concat(
        F.lit(prefix), F.lower(F.lpad(F.hex(_seed_hash(seed, tag, F.col("conv_id"))), 16, "0"))
    )


def transcripts(spark: SparkSession, spec: InputSpec, seed: int) -> tuple[DataFrame, DataFrame]:
    """(all turns, replay map) for ``spec`` under ``seed``.

    The replay map has one row per planted replay: ``(replay_id, kind)``
    with kind ``exact`` or ``near``."""
    n_base = spec.n_turns
    replay_frac = spec.exact_replay_frac + spec.near_replay_frac
    if replay_frac:
        # replays add whole conversations; size the base so the total stays
        # near n_turns
        n_base = int(spec.n_turns / (1.0 + replay_frac))
    base = synth_transcripts(
        spark,
        n_base,
        hot_fraction=spec.hot_fraction,
        partitions=spec.n_files,
    )
    shift = (seed * 7919) % 86400
    base = base.select(
        _rekey(seed, "conv", "c-").alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        (F.col("ts") + F.make_interval(secs=F.lit(shift))).cast("timestamp_ntz").alias("ts"),
    )
    empty_map = spark.createDataFrame([], "replay_id string, kind string")
    if not replay_frac:
        return base, empty_map

    # pick disjoint original sets for exact and near replays by a seeded
    # per-conversation draw in [0, 1)
    draw = F.pmod(_seed_hash(seed, "pick", F.col("conv_id")), F.lit(1_000_000)) / 1e6
    exact_sel = draw < spec.exact_replay_frac
    near_sel = (draw >= spec.exact_replay_frac) & (draw < replay_frac)
    exact = base.filter(exact_sel).withColumn("conv_id", _rekey(seed, "exact", "r-"))
    # a near replay edits exactly one turn, at a seeded position
    edit_at = F.pmod(_seed_hash(seed, "edit", F.col("conv_id")), F.lit(TURNS_PER_CONV))
    near = base.filter(near_sel).select(
        _rekey(seed, "near", "r-").alias("conv_id"),
        "turn_idx",
        "role",
        F.when(
            F.col("turn_idx") == edit_at,
            F.concat(F.lit("edited turn "), F.col("turn_idx").cast("string"),
                     F.lit(" of replay "), F.lit(str(seed))),
        ).otherwise(F.col("text")).alias("text"),
        "tool",
        "ts",
    )
    replay_map = (
        exact.select(F.col("conv_id").alias("replay_id"), F.lit("exact").alias("kind"))
        .union(near.select(F.col("conv_id").alias("replay_id"), F.lit("near").alias("kind")))
        .distinct()
    )
    return base.union(exact).union(near), replay_map


def dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes


def write_input(spark: SparkSession, spec: InputSpec, seed: int, path: str) -> InputInfo:
    """Write the seeded input for ``spec`` to ``path`` (overwriting it) and
    return its measured shape."""
    turns, replay_map = transcripts(spark, spec, seed)
    # union keeps each branch's partitions; coalesce (no shuffle) folds the
    # replay branches back to the requested file count
    (
        turns.coalesce(spec.n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", spec.rows_per_file)
        .parquet(path)
    )
    written = spark.read.parquet(path)
    stats = written.agg(
        F.count(F.lit(1)).alias("rows"), F.countDistinct("conv_id").alias("convs")
    ).first()
    files, nbytes = dir_stats(path)
    replays = replay_map.collect()
    return InputInfo(
        path=path,
        rows=int(stats["rows"]),
        files=files,
        bytes=nbytes,
        n_convs=int(stats["convs"]),
        exact_replays=sorted(r["replay_id"] for r in replays if r["kind"] == "exact"),
        near_replays=sorted(r["replay_id"] for r in replays if r["kind"] == "near"),
    )
