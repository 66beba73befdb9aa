from __future__ import annotations

import json

import pytest

from pyspark.sql import types as T

from log_analysis_spark.sources import readers, sinks

INNER = T.StructType(
    [
        T.StructField("request_id", T.StringType()),
        T.StructField("code", T.IntegerType()),
    ]
)


def test_read_json_array(spark, tmp_path):
    p = tmp_path / "arr.json"
    p.write_text(json.dumps([{"request_id": "a", "code": 200}, {"request_id": "b", "code": 404}], indent=2))
    df = readers.read_json_array(spark, str(p), INNER)
    assert df.count() == 2
    assert {r["code"] for r in df.collect()} == {200, 404}


def test_read_ndjson(spark, tmp_path):
    p = tmp_path / "nd.json"
    p.write_text('{"request_id":"a","code":1}\n{"request_id":"b","code":2}\n')
    assert readers.read_ndjson(spark, str(p), INNER).count() == 2


def test_read_delimited_text(spark, tmp_path):
    p = tmp_path / "bes.log"
    p.write_text("1700|&|inst-1|&|123|&|info|&|hello\n1701|&|inst-2|&|456|&|error|&|boom\n")
    df = readers.read_delimited_text(
        spark, str(p), ["epoch", "instance", "pid", "type", "msg"]
    )
    rows = {r["pid"]: r for r in df.collect()}
    assert rows["123"]["type"] == "info" and rows["456"]["msg"] == "boom"


def test_unwrap_envelope_drops_malformed(spark, tmp_path):
    # CloudWatch-style envelope: {message: "<json-string>"} incl. one bad row
    p = tmp_path / "env.json"
    lines = [
        json.dumps({"message": json.dumps({"request_id": "a", "code": 200})}),
        json.dumps({"message": "NOT JSON AT ALL"}),
        json.dumps({"message": json.dumps({"request_id": "b", "code": 500})}),
    ]
    p.write_text("\n".join(lines))
    raw = spark.read.json(str(p))
    out = readers.unwrap_envelope(raw, "message", INNER)
    assert out.count() == 2
    assert {r["request_id"] for r in out.collect()} == {"a", "b"}


def test_csv_and_partitioned_sinks(spark, transcripts, tmp_path):
    small = transcripts.select("conv_id", "turn_idx", "role").limit(50)
    sinks.write_csv(small, str(tmp_path / "csv"))
    back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == 50

    sinks.write_partitioned(small, str(tmp_path / "part"), ["role"])
    back2 = spark.read.parquet(str(tmp_path / "part"))
    assert back2.count() == 50
    assert set(back2.columns) == {"conv_id", "turn_idx", "role"}


def test_write_counted_counts_ride_the_write(spark, tmp_path):
    """The counts come from the write itself: rows plus plain aggregates,
    for a two-level partitioned write and for an empty output; the
    partition values match what a read of the output finds."""
    from pyspark.sql import functions as F

    df = spark.range(10).selectExpr("id", "id % 2 AS split", "id % 3 AS shard")
    out = str(tmp_path / "o")
    got = sinks.write_counted(
        df, out, F.count_if(F.col("id") > 6).alias("big"),
        F.sum("id").alias("total"), partition_by=("split", "shard"),
    )
    assert got == {"rows": 10, "big": 3, "total": 45}
    back = spark.read.parquet(out)
    assert back.count() == 10
    for col in ("split", "shard"):
        want = {str(r[0]) for r in back.select(col).distinct().collect()}
        assert sinks.partition_values(spark, out, ("split", "shard"), col) == want
    assert sinks.write_counted(df.filter("id < 0"), str(tmp_path / "e")) == {"rows": 0}


def test_footer_rows_match_a_spark_count(spark, tmp_path):
    """Rows per partition value summed from the files' footers equal a
    Spark groupBy count on a two-level partitioned write, files and dirs
    Spark's reader skips (``_`` / ``.`` prefixes) are skipped, a missing
    path gives {} and an empty write counts 0."""
    import shutil

    df = spark.range(100).selectExpr("id", "id % 2 AS split", "id % 3 AS shard")
    out = tmp_path / "f"
    df.write.partitionBy("split", "shard").parquet(str(out))
    part = next(out.glob("split=0/shard=0/part-*.parquet"))
    for planted in (
        part.parent / "_planted.parquet", part.parent / ".planted.parquet",
        part.parent / "_temporary/p.parquet",
        out / "_temporary/0/split=0/shard=0/p.parquet",
    ):
        planted.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(part, planted)
    back = spark.read.parquet(str(out))
    for col in ("split", "shard"):
        want = {str(r[col]): r["count"] for r in back.groupBy(col).count().collect()}
        assert sinks.footer_rows(str(out), ("split", "shard"), col) == want
    assert sinks.footer_rows(str(tmp_path / "missing"), ("split",), "split") == {}
    empty = str(tmp_path / "e")
    df.filter("id < 0").write.parquet(f"{empty}/ingest_id=0")
    assert sinks.footer_rows(empty, ("ingest_id",), "ingest_id") == {"0": 0}


# ---------------------------------------------------------------------------
# bucketed (co-located) tables
# ---------------------------------------------------------------------------


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_turns(spark, transcripts, tmp_path_factory):
    from log_analysis_spark.sources import bucketed

    loc = tmp_path_factory.mktemp("buckdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{loc}'")
    bucketed.write_bucketed(
        transcripts, "buckdb.turns_b", "conv_id", 8,
        sort_cols=["conv_id", "turn_idx"],
    )
    yield "buckdb.turns_b"
    spark.sql("DROP TABLE IF EXISTS buckdb.turns_b")
    spark.sql("DROP DATABASE IF EXISTS buckdb")


def test_bucketed_groupby_no_shuffle(spark, transcripts, bucketed_turns):
    """A groupBy on the bucket key over a bucketed table carries ZERO
    Exchange: the scan's recorded hash layout satisfies the aggregate's
    distribution — the shuffle was paid once at write time."""
    from pyspark.sql import functions as F

    from log_analysis_spark.sources import bucketed

    df = bucketed.read_bucketed(spark, bucketed_turns)
    agg = df.groupBy("conv_id").agg(F.count("*").alias("n"))
    assert _executed_plan(agg).count("Exchange") == 0
    # and the result is identical to the plain (shuffling) aggregate
    expect = {
        r["conv_id"]: r["n"]
        for r in transcripts.groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r["conv_id"]: r["n"] for r in agg.collect()} == expect


def test_bucketed_join_no_shuffle_vs_flat(spark, bucketed_turns):
    """Co-located conv-keyed self-join: both sides bucketed on conv_id with
    the same bucket count -> SortMergeJoin with ZERO Exchange.  Control: the
    SAME parquet files read path-based (catalog metadata dropped) shuffle
    BOTH sides.  Broadcast is disabled so the shuffle path is actually
    exercised (at 100 TB neither side broadcasts)."""
    from log_analysis_spark.sources import bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed.read_bucketed(spark, bucketed_turns)
        j = df.alias("a").join(
            bucketed.read_bucketed(spark, bucketed_turns).alias("b"), "conv_id"
        )
        plan = _executed_plan(j)
        assert plan.count("Exchange") == 0
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan

        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {bucketed_turns}").filter(
            "col_name = 'Location'"
        ).first()["data_type"]
        flat = spark.read.parquet(loc)
        jf = flat.alias("a").join(spark.read.parquet(loc).alias("b"), "conv_id")
        assert _executed_plan(jf).count("Exchange") == 2
        assert j.count() == jf.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from log_analysis_spark.sources.readers import read_orc
    from log_analysis_spark.sources.sinks import write_orc

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = str(tmp_path / "ev_orc")
    write_orc(ev, p)
    back = read_orc(spark, p)
    assert back.count() == ev.count()
    assert sorted(back.columns) == sorted(ev.columns)
    # predicate pushdown reaches the ORC scan
    plan = (
        back.filter(F.col("event_type") == "error")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" in plan


def test_parquet_schema_evolution_read(spark, tmp_path):
    from pyspark.sql import Row

    from log_analysis_spark.sources.readers import read_parquet_evolved

    old = spark.createDataFrame([Row(id=1, a="x")])
    new = spark.createDataFrame([Row(id=2, a="y", b=7)])  # grew column b
    old.write.parquet(str(tmp_path / "t" / "p1"))
    new.write.parquet(str(tmp_path / "t" / "p2"))
    got = read_parquet_evolved(
        spark, str(tmp_path / "t" / "p1"), str(tmp_path / "t" / "p2")
    )
    rows = {r["id"]: (r["a"], r["b"]) for r in got.collect()}
    assert rows == {1: ("x", None), 2: ("y", 7)}


def test_compact_parquet_preserves_rows(spark, tmp_path):
    from log_analysis_spark.sources.layout import compact_parquet

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "many")
    ev.repartition(32).write.parquet(src)  # 32 small files
    res = compact_parquet(spark, src, str(tmp_path / "few"), target_files=2)
    assert res["n_files_before"] >= 30
    assert res["n_files_after"] <= 2
    assert res["rows"] == ev.count()


# ---- keyed upsert sink ------------------------------------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_upsert_keyed_sequence_matches_expected(spark, tmp_path):
    from log_analysis_spark.sources.sinks import read_keyed, upsert_keyed

    tbl = str(tmp_path / "dim")
    upsert_keyed(spark, tbl, _kv(spark, [("a", 1), ("b", 2)]), ["k"])
    upsert_keyed(spark, tbl, _kv(spark, [("b", 20), ("c", 3)]), ["k"])
    got = {r["k"]: r["v"] for r in read_keyed(spark, tbl).collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_upsert_keyed_delete_marker_removes_keys(spark, tmp_path):
    from log_analysis_spark.sources.sinks import read_keyed, upsert_keyed

    tbl = str(tmp_path / "dim_del")
    upsert_keyed(spark, tbl, _kv(spark, [("a", 1), ("b", 2), ("c", 3)]), ["k"])
    upd = spark.createDataFrame(
        [("b", 0, True), ("d", 4, False)], "k string, v long, _del boolean"
    )
    res = upsert_keyed(spark, tbl, upd, ["k"], delete_col="_del")
    got = {r["k"]: r["v"] for r in read_keyed(spark, tbl).collect()}
    assert got == {"a": 1, "c": 3, "d": 4}
    assert res["n_rows"] == 3


def test_upsert_keyed_rejects_intra_batch_duplicate_keys(spark, tmp_path):
    import pytest as _pytest

    from log_analysis_spark.sources.sinks import upsert_keyed

    with _pytest.raises(ValueError, match="duplicate keys"):
        upsert_keyed(
            spark,
            str(tmp_path / "dim_dup"),
            _kv(spark, [("a", 1), ("a", 2)]),
            ["k"],
        )


def test_upsert_keyed_crash_mid_write_invisible(spark, tmp_path):
    """A version dir written WITHOUT the marker flip (crashed writer) must
    be invisible to read_keyed, and the next upsert must supersede it."""
    from log_analysis_spark.sources.sinks import read_keyed, upsert_keyed

    tbl = str(tmp_path / "dim_crash")
    upsert_keyed(spark, tbl, _kv(spark, [("a", 1)]), ["k"])
    # simulate a crash: version=2 data lands but the marker never flips
    _kv(spark, [("a", 999)]).write.parquet(f"{tbl}/version=2")
    got = {r["k"]: r["v"] for r in read_keyed(spark, tbl).collect()}
    assert got == {"a": 1}
    # the recovering writer overwrites the torn dir and commits atomically
    upsert_keyed(spark, tbl, _kv(spark, [("b", 2)]), ["k"])
    got = {r["k"]: r["v"] for r in read_keyed(spark, tbl).collect()}
    assert got == {"a": 1, "b": 2}


def test_upsert_keyed_prunes_old_versions(spark, tmp_path):
    import glob

    from log_analysis_spark.sources.sinks import upsert_keyed

    tbl = str(tmp_path / "dim_prune")
    for i in range(4):
        upsert_keyed(spark, tbl, _kv(spark, [("a", i)]), ["k"], keep_versions=2)
    vs = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{tbl}/version=*")
    )
    assert vs == [3, 4]
