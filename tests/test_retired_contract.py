"""Queries retired from the 50-entry driver contract stay part of the
engine's verified surface: those with engine-portable semantics are
cross-checked against their DuckDB oracles here (same normalize/compare as
tools/check_oracle.py), and the hash-seeded production twins must keep
running (their pair-set equality vs the in-contract md5 twins is asserted in
tests/test_docs_ops.py)."""

from __future__ import annotations

import duckdb

import __spark_entry__ as entry
from tools.check_oracle import TABLES, _normalize


def test_retired_queries_still_exact(spark, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, sqls = entry.retired_queries(), entry.retired_oracle_sql()
    assert set(sqls) <= set(qs)
    for name, sql in sqls.items():
        sdf = qs[name](spark, sf_dir).toPandas()
        odf = con.execute(sql).df()
        assert sorted(sdf.columns) == sorted(odf.columns), name
        sh, sn = _normalize(sdf)
        oh, on = _normalize(odf)
        assert sn == on, f"{name}: rowcount {sn} vs {on}"
        assert sh == oh, f"{name}: value hash mismatch ({sn} rows)"


def test_retired_hash_seeded_twins_run(spark, sf_dir):
    qs = entry.retired_queries()
    for name in set(qs) - set(entry.retired_oracle_sql()):
        assert qs[name](spark, sf_dir).count() >= 0, name


def test_coverage_doc_counts_match():
    """COVERAGE.md's headline counts must equal the live registries — the
    intro went stale twice (76 -> 157) before this pin."""
    rq, ro = entry.retired_queries(), entry.retired_oracle_sql()
    text = open("COVERAGE.md").read()
    assert f"**{len(rq)} more**" in text, (
        f"COVERAGE.md intro must say '**{len(rq)} more**' retired queries"
    )
    assert f"**{len(ro)} hash-exact**" in text, (
        f"COVERAGE.md intro must say '**{len(ro)} hash-exact**'"
    )
    n_rows_only = len(set(rq) - set(ro))
    assert n_rows_only == 7, (
        "rows-only retired count changed; update COVERAGE.md's enumeration "
        f"(now {n_rows_only})"
    )


def test_registry_views_partition_every_query():
    """The four driver views derive from CONTRACT and one oracle table:
    contract + retired cover every q_* function exactly once, and every
    oracle key names a registered query (a misspelled key would otherwise
    silently turn its row into a rows-only check)."""
    q, o = entry.queries(), entry.oracle_sql()
    rq, ro = entry.retired_queries(), entry.retired_oracle_sql()
    assert list(q) == entry.CONTRACT and len(set(entry.CONTRACT)) == 50
    assert set(o) == set(q)
    assert not (set(q) & set(rq)), sorted(set(q) & set(rq))
    q_fns = {k[2:] for k in vars(entry) if k.startswith("q_")}
    assert set(q) | set(rq) == q_fns
    assert set(entry._oracle_table()) == set(o) | set(ro) <= q_fns
