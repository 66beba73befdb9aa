"""Iceberg sink path (SURVEY.md §7.1/§4.2): ``days(ts) + bucket(B, conv_id)``
partition spec and replace-partition idempotent writes.

The north star stores transcripts and routed sinks in Iceberg; the
reference's de-facto equivalent is file-per-step with manual re-runs
(download_and_merge.sh:7-12).  Rebuild contract:

* ``write_transcripts_iceberg`` / ``overwrite_partitions`` — the real
  Iceberg DataFrameWriterV2 path (``writeTo``), partitioned by
  ``days(ts), bucket(B, conv_id)`` (time pruning + conv co-location with
  hot-conversation spread).  ``overwritePartitions`` replaces exactly the
  partitions present in the incoming DataFrame under snapshot isolation —
  a failed job reruns to the same final state with no double-append.
* ``replace_partition_write`` — the sanctioned parquet fallback for
  catalogs/containers without the Iceberg runtime (this sandbox ships no
  iceberg-spark jar): ``partitionOverwriteMode=dynamic`` gives the same
  replace-partition contract on hive-layout parquet — rerunning after a
  mid-write kill converges to the clean result, and partitions absent from
  the DataFrame are left untouched.

Both paths are selected by ``iceberg_available(spark)`` so the same job
code runs in either environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_analysis_spark.operators.router import route_write


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def configure_catalog(
    spark: SparkSession, name: str = "graft", warehouse: str = "/tmp/graft_warehouse"
) -> None:
    """Register a Hadoop-type Iceberg catalog.  NOTE: Spark reads catalog
    confs lazily per catalog, so setting them on a live session works for a
    catalog not yet touched; production jobs pass these via spark-submit
    --conf."""
    spark.conf.set(f"spark.sql.catalog.{name}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse", warehouse)


def write_transcripts_iceberg(
    df: DataFrame, table: str, bucket_n: int = 16, ts_col: str = "ts"
) -> None:
    """Create-or-replace the transcripts table with the north-star partition
    spec: ``days(ts)`` for time-range pruning (every query here filters or
    buckets on time) + ``bucket(B, conv_id)`` so one hot conversation spreads
    over B files while conv-keyed joins/aggregations still co-locate."""
    (
        df.writeTo(table)
        .partitionedBy(F.days(F.col(ts_col)), F.bucket(bucket_n, F.col("conv_id")))
        .createOrReplace()
    )


def overwrite_partitions(df: DataFrame, table: str) -> None:
    """Idempotent incremental write: replaces exactly the partitions present
    in ``df`` under snapshot isolation (Iceberg REPLACE semantics) — the
    resume primitive for a job restarted mid-pipeline."""
    df.writeTo(table).overwritePartitions()


def replace_partition_write(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Parquet fallback with the Iceberg ``overwritePartitions`` contract:
    dynamic partition overwrite replaces only the hive partitions present in
    ``df`` and never touches the rest, so a rerun after a partial/failed
    write converges to the clean result instead of double-appending
    (mode="overwrite" + static mode would instead clobber the whole root)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        route_write(df, path, partition_cols)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def route_write_resumable(
    tagged: DataFrame,
    out: str,
    extra_partition_cols: list[str] | None = None,
    table_mode: bool | None = None,
) -> None:
    """Fan-out write with replace-partition resume semantics.

    ``out`` is an Iceberg table name when the runtime is available (or
    ``table_mode=True``), else a parquet root directory.  Either way the
    write is idempotent per partition: rerunning the same input after a
    mid-write failure reproduces the clean sinks exactly."""
    spark = tagged.sparkSession
    use_iceberg = iceberg_available(spark) if table_mode is None else table_mode
    cols = ["sink"] + (extra_partition_cols or [])
    if use_iceberg:
        overwrite_partitions(tagged, out)
    else:
        replace_partition_write(tagged, out, cols)
