from __future__ import annotations

from pyspark.sql import functions as F

from log_analysis_spark.functions.parse import (
    PARSED_COLS,
    class_counts,
    parse_turns,
)


def test_turn_class_taxonomy(spark, transcripts):
    parsed = parse_turns(transcripts)
    counts = {r["turn_class"]: r["n"] for r in class_counts(parsed).collect()}
    # completeness invariant (reference log_processing.py:94-95)
    assert sum(counts.values()) == transcripts.count()
    assert set(counts) == {"request", "info", "error", "timing", "unknown"}
    assert counts["unknown"] >= 1  # the garbled remainder class exists


def test_error_turn_fields(spark, transcripts):
    parsed = parse_turns(transcripts).filter(F.col("turn_class") == "error")
    row = parsed.orderBy("conv_id", "turn_idx").first()
    assert row["http_code"] in (400, 401, 404, 500)
    assert 1 <= row["attempt"] <= 3
    assert row["code_ref"].startswith("BESUtil.cc:")
    assert row["duration_ms"] is None


def test_request_turn_fields(spark, transcripts):
    parsed = parse_turns(transcripts).filter(F.col("turn_class") == "request")
    row = parsed.first()
    assert row["http_method"] == "GET"
    assert row["url_path"].startswith("/hyrax/ngap/")
    assert row["http_code"] in (200, 404, 500)
    assert row["req_epoch"] >= 1700000000
    assert row["instance_id"].startswith("inst-")
    assert 10000 <= row["pid"] < 10008


def test_timing_and_info_fields(spark, transcripts):
    parsed = parse_turns(transcripts)
    timing = parsed.filter(F.col("turn_class") == "timing").first()
    assert timing["action"] in (
        "TheBESKeys::TheKeys",
        "DmrppArray::read",
        "CurlHandlePool::get",
    )
    assert timing["n_responses"] >= 1
    assert timing["duration_ms"] > 0
    info = parsed.filter(F.col("turn_class") == "info").first()
    assert info["cache_op"] in ("hit", "miss", "put")
    assert info["url_path"].startswith("/data/")


def test_native_vs_arrow_equivalence(spark, transcripts):
    """Both parse impls must agree cell-for-cell (schema + values)."""
    key = ["conv_id", "turn_idx"]
    a = parse_turns(transcripts, impl="native").select(*key, *PARSED_COLS)
    b = parse_turns(transcripts, impl="arrow").select(*key, *PARSED_COLS)
    assert [f.simpleString() for f in a.schema.fields] == [
        f.simpleString() for f in b.schema.fields
    ]
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_impl_equivalence_on_newline_terminated_rows(spark):
    """Regression: RE2's '$' is end-of-text only, Java/Python '$' also match
    before a final '\\n' — info-path rows ending in a newline must parse the
    same url_path in both impls."""
    rows = [
        ("c1", 0, "sys", "BESLog::info() - Cache hit, path: /data/a.nc\n", "-", None),
        ("c1", 1, "sys", "BESLog::info() - Cache miss, path: /data/b.nc", "-", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = {}
    for impl in ("native", "arrow"):
        out[impl] = {
            r["turn_idx"]: r["url_path"]
            for r in parse_turns(df, impl=impl).select("turn_idx", "url_path").collect()
        }
    assert out["native"] == out["arrow"]
    assert out["native"][0] == "/data/a.nc"


def test_parse_plan_is_codegen(spark, transcripts):
    """Native parse must stay inside WholeStageCodegen (no Python in plan)."""
    plan = parse_turns(transcripts)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
