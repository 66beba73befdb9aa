"""Rule-driven multi-sink router (fan-out).

The reference routes with cascades of jq filters, one full file re-scan per
sink (combined_analysis.sh:7-87 — ~25 rescans), per-type splits
(README.md:84-101), and per-PID file fan-out (log_processing.py:14-41).

Spark-first rebuild: the sink predicate list is *data*; the tag column is
computed once in a single ``when``-chain projection (so predicates are
evaluated exactly once and disjointly — SURVEY.md §7.3), rows fan out via a
single ``partitionBy("sink")`` write, and per-sink counts come from one
``groupBy`` pass.  The remainder sink keeps completeness exact
("Those numbers add up", README.md:113-123).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    sink: str
    predicate: Callable[[DataFrame], Column] | Column


DEFAULT_REMAINDER = "other"


def default_rules() -> list[Rule]:
    """The rebuild's standing sinks (north star: errors, tool-calls,
    per-role streams), mirroring the reference's class split
    (README.md:84-101) + error sub-classes (README.md:113-123)."""
    return [
        Rule("errors", F.col("turn_class") == "error"),
        Rule("tool_calls", F.col("tool") != "-"),
        Rule("requests", F.col("turn_class") == "request"),
        Rule("info", F.col("turn_class") == "info"),
        Rule("human", F.col("role") == "user"),
    ]


def _pred(rule: Rule, df: DataFrame) -> Column:
    p = rule.predicate
    return p(df) if callable(p) else p


def tag_sinks(df: DataFrame, rules: list[Rule], remainder: str = DEFAULT_REMAINDER) -> DataFrame:
    """First-match-wins disjoint tagging: one `when` chain, one evaluation.

    Disjointness is by construction (a row lands in exactly one sink), so the
    completeness invariant `sum(per-sink counts) == total` is structural.
    """
    expr = None
    for rule in rules:
        cond = _pred(rule, df)
        expr = F.when(cond, rule.sink) if expr is None else expr.when(cond, rule.sink)
    expr = F.lit(remainder) if expr is None else expr.otherwise(remainder)
    return df.withColumn("sink", expr)


def sink_counts(tagged: DataFrame) -> DataFrame:
    return tagged.groupBy("sink").agg(F.count("*").alias("n"))


# Parquet row-group size of every fan-out write.  It bounds writer memory:
# with concurrent fan-out writers (session.py disables the planned-write
# sort) every task holds one open writer per sink, so resident writer
# buffers ≈ ``tasks_per_executor × n_sinks × ROW_GROUP_BYTES``.  The parquet
# default (128 MB) blows that envelope at high task counts — 32 tasks × 6
# sinks × 128 MB = 24 GB, measured 90s vs 19s for a 16M-row routed write —
# while 16 MB keeps it ~3 GB with negligible scan-side cost for sink tables.
ROW_GROUP_BYTES = 16 * 1024 * 1024


def route_write(
    tagged: DataFrame, out_dir: str, partition_cols: Sequence[str] = ("sink",)
) -> None:
    """Single-pass fan-out: one overwrite parquet write, hive-partitioned by
    sink (the Spark equivalent of N separate output files; each sink is one
    directory).  The batch fallback and the streaming micro-batches both
    write through here.

    At cluster scale this is one shuffle-free scan + write; the reference's
    25-rescan cascade collapses into a single job.
    """
    (
        tagged.write.mode("overwrite")
        .format("parquet")
        .option("parquet.block.size", ROW_GROUP_BYTES)
        .partitionBy(*partition_cols)
        .save(out_dir)
    )


def check_routing_completeness(tagged: DataFrame) -> dict[str, int]:
    """R4 invariant: per-sink counts sum to the total ("Those numbers add
    up") — evaluated in ONE pass via grouping sets, not N rescans."""
    rows = (
        tagged.rollup("sink").agg(F.count("*").alias("n")).collect()
    )
    total = None
    per_sink: dict[str, int] = {}
    for r in rows:
        if r["sink"] is None:
            total = r["n"]
        else:
            per_sink[r["sink"]] = r["n"]
    assert total is not None and sum(per_sink.values()) == total, (
        f"routing incomplete: {per_sink} vs total={total}"
    )
    return per_sink
