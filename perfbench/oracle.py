"""Independent DuckDB recomputation of the routed outputs.

The parse is ``log_analysis_spark.oracles``' DuckDB re-derivation of
``functions/parse.py``, applied to the generated parquet instead of the
events table.  Enrich and routing are restated in SQL from their documented
semantics: the tool registry's ``role`` overrides the turn's role when the
tool matches (``enrich.enrich_tools``), and sinks are the first matching rule
of ``router.default_rules`` with ``other`` as the remainder.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb

from log_analysis_spark import oracles

_SINKS_BODY = """
, routed AS (
  SELECT
    p.conv_id,
    COALESCE(tr.role, p.role) AS role,
    p.tool,
    p.ts,
    CASE
      WHEN p.turn_class = 'error' THEN 'errors'
      WHEN p.tool <> '-' THEN 'tool_calls'
      WHEN p.turn_class = 'request' THEN 'requests'
      WHEN p.turn_class = 'info' THEN 'info'
      WHEN COALESCE(tr.role, p.role) = 'user' THEN 'human'
      ELSE 'other'
    END AS sink
  FROM parsed p LEFT JOIN __TOOL_REGISTRY__ tr ON p.tool = tr.tool
)
"""


def _routed_sql(parquet_glob: str) -> str:
    src = f"WITH transcripts AS (SELECT * FROM read_parquet('{parquet_glob}'))"
    sql = oracles.on_parsed("")
    if not sql.startswith(oracles.TRANSCRIPTS_PRELUDE):
        raise RuntimeError("oracles.PARSED_PRELUDE no longer starts with the transcripts CTE")
    return oracles.with_dims(src + sql[len(oracles.TRANSCRIPTS_PRELUDE):] + _SINKS_BODY)


@dataclass
class Expected:
    per_sink: dict[str, int]
    hourly: list[tuple]
    conv_counts: dict[str, int]


def expected_outputs(parquet_dir: str, with_aggregates: bool = True) -> Expected:
    """Per-sink counts, and optionally the ``(sink, role, tool, hour, n)``
    rollup and per-conversation counts, of the routed input."""
    routed = _routed_sql(f"{parquet_dir}/*.parquet")
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        per_sink = dict(
            con.execute(f"{routed} SELECT sink, count(*) FROM routed GROUP BY sink").fetchall()
        )
        hourly: list[tuple] = []
        convs: dict[str, int] = {}
        if with_aggregates:
            hourly = sorted(
                con.execute(
                    f"{routed} SELECT sink, role, tool, date_trunc('hour', ts) AS hour,"
                    " count(*) FROM routed GROUP BY ALL"
                ).fetchall()
            )
            convs = dict(
                con.execute(
                    f"{routed} SELECT conv_id, count(*) FROM routed GROUP BY conv_id"
                ).fetchall()
            )
    finally:
        con.close()
    return Expected(per_sink=per_sink, hourly=hourly, conv_counts=convs)
