"""The physical-plan audit (tools/explain_audit.py): its shared predicates on
literal plan text, the whole audit at sf0.01 on the shared session, how it
reports a failing check, and its cleanup when a builder raises."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from tools import explain_audit as ea

CONFS = (ea.AQE, ea.BROADCAST_THRESHOLD)


def _text(text: str) -> ea.Plan:
    return ea.Plan(text=text)


@pytest.mark.parametrize(
    "node",
    ["MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
     "FlatMapGroupsInPandas", "ArrowAggregatePython", "ArrowWindowPython"],
)
def test_no_python_flags_every_python_stage(node):
    plan = f"*(2) Project [doc_id#1L]\n+- {node} <lambda>(text#2)#9, [doc_id#1L, text#2]\n"
    assert not ea.no_python(_text(plan))


def test_no_python_passes_a_jvm_plan():
    assert ea.no_python(_text("*(1) Project [md5(text#2) AS h#5]\n+- FileScan parquet"))


def test_no_cross_flags_both_cross_products():
    assert not ea.no_cross(_text("BroadcastNestedLoopJoin BuildRight, Inner"))
    assert not ea.no_cross(_text("CartesianProduct"))
    assert ea.no_cross(_text("BroadcastHashJoin [k#1], [k#2], Inner, BuildRight"))


def test_exchange_and_count_predicates():
    plan = _text("HashAggregate\n+- Exchange hashpartitioning(k#1, 4)\n   +- HashAggregate")
    assert not ea.no_exchange(plan)
    assert ea.count_at_least("HashAggregate", 2)(plan)
    assert not ea.count_at_least("HashAggregate", 3)(plan)
    assert ea.count_exactly("HashAggregate", 2)(plan)
    assert ea.no_exchange(_text("BroadcastHashJoin\n+- FileScan parquet"))


def test_shuffle_predicates():
    plan = ea.Plan(shuffles=[
        ("hashpartitioning(band#1, bkey#2L, 4)", ["id", "band", "bkey"]),
        ("SinglePartition", ["count"]),
        ("hashpartitioning(doc_id#3L, 4)", ["doc_id", "clean_text"]),
    ])
    assert ea.shuffles_exclude("text")(plan)
    assert not ea.shuffles_exclude("*text*")(plan)
    assert ea.shuffles_exclude("*text*", keyed="band")(plan)
    assert ea.shuffles_within("count", keyed="SinglePartition")(plan)
    assert not ea.shuffles_within("id", "band", "bkey")(plan)
    assert ea.shuffles_exactly(1, keyed=ea.BAND_KEYED)(plan)
    assert ea.narrow_band_joins(plan)
    assert not ea.narrow_band_joins(ea.Plan(shuffles=[
        ("hashpartitioning(band#1, bkey#2L, 4)", ["id", "unit"])]))
    assert not ea.no_shuffle(plan)
    assert ea.no_shuffle(ea.Plan(shuffles=[]))


def test_audit_passes_every_check_and_restores_the_session(spark, sf_dir):
    explain_md = Path(ea.REPO) / "EXPLAIN.md"
    before_md = explain_md.read_bytes()
    before = {k: spark.conf.get(k) for k in CONFS}

    sections, failures = ea.audit(spark, str(Path(sf_dir).parent / "sf0.01"))

    assert failures == []
    assert len(sections) == len(ea.SECTIONS) == 68
    assert sum(len(notes) for _title, _plan, notes in sections) == 216
    assert {k: spark.conf.get(k) for k in CONFS} == before
    assert explain_md.read_bytes() == before_md
    assert not spark.catalog.databaseExists(ea.BUCKET_DB)


def test_audit_cleans_up_when_a_builder_raises(spark, sf_dir, tmp_path, monkeypatch):
    bucketed = next(s for s in ea.SECTIONS if s[0].startswith("Bucketed co-located"))

    def explode(x):
        with ea.no_broadcast(x.spark):
            raise RuntimeError("builder failed")

    monkeypatch.setattr(ea, "SECTIONS", [bucketed, ("boom", explode, ())])
    monkeypatch.setattr(ea.tempfile, "tempdir", str(tmp_path))
    before = {k: spark.conf.get(k) for k in CONFS}

    with pytest.raises(RuntimeError, match="builder failed"):
        ea.audit(spark, sf_dir)

    assert {k: spark.conf.get(k) for k in CONFS} == before
    assert not spark.catalog.databaseExists(ea.BUCKET_DB)
    assert os.listdir(tmp_path) == []


def test_audit_reports_a_failing_check(spark, sf_dir, monkeypatch):
    def build(x):
        return x.spark.range(8).selectExpr("id % 2 AS k").groupBy("k").count()

    row = ("counted rows shuffle nothing", ea.no_shuffle)
    monkeypatch.setattr(ea, "SECTIONS", [("t", build, (row,))])

    sections, failures = ea.audit(spark, sf_dir)

    assert len(failures) == 1
    assert failures[0].startswith("FAIL  counted rows shuffle nothing — shuffles=[[")
    assert sections[0][2] == failures


def test_printable_escapes_control_characters():
    assert ea.printable("THEN \x00N ELSE\n\tx") == "THEN \\x00N ELSE\n\\tx"
