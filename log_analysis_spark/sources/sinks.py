"""Sinks (SURVEY.md §2.1 S8-S10).

  * S8 — JSON sink (ngap-logs.py:327-329 pretty array → json lines here;
    array order inside nested cols is already stabilized by sort_array)
  * S9 — CSV sink with header (response_times2.py:49-55)
  * S10 — partitioned fan-out sink: one directory per distinct key value
    (log_processing.py:14-41 one file per PID → partitionBy)
  * ``write_counted`` — the jobs' output sink: the counts a job reports
    about its own output ride the write, never a read-back
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).format(fmt).partitionBy(*partition_cols).save(path)


def write_counted(
    df: DataFrame, path: str, *metrics: Column, partition_by: tuple = ()
) -> dict:
    """Overwrite ``path`` with ``df`` as parquet (hive-partitioned by
    ``partition_by``) and return what the write counted: ``rows`` plus one
    key per aggregate in ``metrics``, named by its alias.

    The counts ride the write as an unnamed ``Observation`` (unique across
    micro-batches) in its result stage, where a retried task is merged
    once; the output is never read back.  Spark rejects DISTINCT in
    observed metrics."""
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics)
    observed.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    return obs.get


def partition_values(spark, path: str, partition_by: tuple, col: str) -> set:
    """The values of hive partition column ``col`` that a write partitioned
    by ``partition_by`` created under ``path``, read off the directory
    listing (Hadoop FS, any scheme): a DISTINCT with no Spark job."""
    depth = list(partition_by).index(col)
    pattern = spark._jvm.org.apache.hadoop.fs.Path(path + "/*" * depth + f"/{col}=*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    return {st.getPath().getName()[len(col) + 1:] for st in fs.globStatus(pattern) or []}


def footer_rows(path: str, partition_by: tuple, col: str) -> dict[str, int]:
    """Rows per value of hive partition column ``col`` under the local
    ``path``, written partitioned by ``partition_by``: the sum of
    ``num_rows`` in each committed file's parquet footer, so no Spark job
    runs and no data page is read.  Names starting with ``_`` or ``.`` are
    skipped, as Spark's reader skips them (``_temporary/``, ``.crc``)."""
    import pyarrow.parquet as pq

    depth = list(partition_by).index(col)
    pattern = [glob.escape(path), *(f"{c}=*" for c in partition_by), "[!_.]*"]
    counts: dict[str, int] = {}
    for f in glob.glob(os.path.join(*pattern)):
        value = os.path.relpath(f, path).split(os.sep)[depth][len(col) + 1:]
        counts[value] = counts.get(value, 0) + pq.read_metadata(f).num_rows
    return counts


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar format warehouses standardize on;
    native in Spark (vectorized reader, predicate pushdown) so the engine
    round-trips either column store without extra packages."""
    df.write.mode(mode).orc(path)


def upsert_keyed(
    spark,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
    keep_versions: int = 2,
) -> dict:
    """MERGE-style keyed upsert into a versioned parquet table — the
    maintained-dimension sink (tool registries, per-conv rollups, dedup
    decisions) the plain overwrite/append sinks can't express: rows in
    ``updates`` REPLACE current rows sharing their key, unmatched current
    rows survive, and rows where ``delete_col`` is true remove their key.

    Layout & atomicity (same discipline as the incremental-state
    compaction): each upsert writes a full new ``version=<n+1>`` dir, then
    flips the ``_current.json`` marker via tmp+rename AFTER the write
    commits — a crash mid-write leaves the marker pointing at the intact
    previous version (``read_keyed`` never sees a torn table).  The oldest
    versions beyond ``keep_versions`` are pruned only after the flip.

    Scale shape: the merge is ONE left-anti equi-join of the current table
    against the (broadcastable-when-small) update keys plus a union — no
    window, no global sort.  Full-rewrite versioning is the right trade for
    dimension-sized tables (the use case); a fact-sized target should
    partition ``table_dir`` and merge only touched partitions — that
    routing belongs to the caller, which knows the partition scheme.

    Loud guards: duplicate keys WITHIN one update batch would make the
    result order-dependent — rejected; schema drift vs the current table is
    rejected by unionByName (no silent column loss).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    dup = (
        updates.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"updates contain duplicate keys (e.g. {dup[0].asDict()}); "
            "resolve last-writer-wins upstream — an intra-batch tie is "
            "order-dependent and would make the table non-deterministic"
        )
    deletes = None
    if delete_col is not None:
        deletes = updates.filter(F.col(delete_col)).select(*key_cols)
        updates = updates.filter(~F.col(delete_col)).drop(delete_col)

    marker = os.path.join(table_dir, "_current.json")
    version = 0
    current = None
    if os.path.exists(marker):
        with open(marker) as f:
            version = json.load(f)["version"]
        current = spark.read.parquet(os.path.join(table_dir, f"version={version}"))

    upd_keys = updates.select(*key_cols)
    if deletes is not None:
        upd_keys = upd_keys.union(deletes)
    if current is not None:
        # plain anti-join: the key frame is narrow, so AQE broadcasts it
        # when small and falls back to shuffle when an update batch is
        # genuinely large (forcing broadcast here would OOM that case)
        kept = current.join(upd_keys, key_cols, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates

    new_version = version + 1
    out = os.path.join(table_dir, f"version={new_version}")
    n_rows = write_counted(merged, out)["rows"]
    tmp = marker + ".tmp"
    os.makedirs(table_dir, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump({"version": new_version, "n_rows": n_rows}, f)
    os.replace(tmp, marker)
    for old in sorted(glob.glob(os.path.join(table_dir, "version=*"))):
        v = int(old.rsplit("=", 1)[1])
        if v <= new_version - keep_versions:
            shutil.rmtree(old, ignore_errors=True)
    return {"version": new_version, "n_rows": n_rows}


def read_keyed(spark, table_dir: str) -> DataFrame:
    """Read the current committed version of an ``upsert_keyed`` table (the
    marker is the single source of truth — a newer, un-flipped version dir
    from a crashed writer is invisible)."""
    marker = os.path.join(table_dir, "_current.json")
    with open(marker) as f:
        version = json.load(f)["version"]
    return spark.read.parquet(os.path.join(table_dir, f"version={version}"))
