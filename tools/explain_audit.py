"""Physical-plan audit: assert that the plans Catalyst produces are the ones
we designed for 100 TB, and write the evidence to EXPLAIN.md.

The audit is one table, ``SECTIONS``: one entry per EXPLAIN.md section, each a
title, a builder that returns the frame(s) to inspect, and its checks.  A
check is a name plus a predicate built from the shared vocabulary below
(``no_cross``, ``no_python``, ``no_exchange``, ``count_at_least``,
``shuffles_exclude`` ...); a check that combines properties combines
predicates with ``all_of``.  Every check is a hard assertion, not prose.

To add a check, add a row ``(name, predicate)`` to a section, or
``(name, frame, predicate)`` when the builder returns a dict of frames.  To
add a section, call ``section(title, *rows, build=...)`` or decorate its
builder with ``@section(title, *rows)``.  The first frame a builder returns
is the plan EXPLAIN.md shows.

Usage: python tools/explain_audit.py [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import contextlib
import fnmatch
import os
import re
import shutil
import sys
import tempfile
from functools import cached_property

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from log_analysis_spark.datagen import (  # noqa: E402
    role_taxonomy,
    tool_registry,
    transcripts_from_events,
)
from log_analysis_spark.functions.parse import parse_turns  # noqa: E402
from log_analysis_spark.operators import (  # noqa: E402
    aggregate,
    chunking,
    corpus,
    dedup,
    enrich,
    expectations,
    graph,
    incremental,
    incremental_embed,
    itemsets,
    joins,
    retrieval,
    router,
    semdedup,
    similarity,
    sketches,
    span_dedup,
    templates,
    textstats,
    timeseries,
    urls,
    windows_ops,
)
from log_analysis_spark.session import get_spark  # noqa: E402
from log_analysis_spark.sources import bucketed  # noqa: E402

BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
AQE = "spark.sql.adaptive.enabled"
BUCKET_DB = "explain_buck"


def _shuffles_of(node) -> list[tuple[str, list[str]]]:
    """(partitioning, columns) of every shuffle in a JVM physical plan."""
    out = [
        s for i in range(node.children().size()) for s in _shuffles_of(node.children().apply(i))
    ]
    if "ShuffleExchange" in node.getClass().getSimpleName():
        cols = [node.output().apply(i).name() for i in range(node.output().size())]
        out.insert(0, (node.outputPartitioning().toString(), cols))
    return out


def shuffle_schemas(df) -> list[tuple[str, list[str]]]:
    """(partitioning, output column names) for every shuffle Exchange in the
    executed plan — the machine-readable answer to "what does this shuffle
    actually carry?", which the plan's toString does not print."""
    return _shuffles_of(df._jdf.queryExecution().executedPlan())


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class Plan:
    """What a check inspects: the executed plan text of one or more frames and
    the (partitioning, columns) of their shuffles.  The physical plan is fixed
    when the Plan is made, so a builder that changes a conf makes its Plans
    inside that change.  ``text``/``shuffles`` may be given literally."""

    def __init__(self, *dfs, **literal):
        self.dfs = dfs
        self._jplans = [d._jdf.queryExecution().executedPlan() for d in dfs]
        self.__dict__.update(literal)

    @cached_property
    def text(self) -> str:
        return "\n".join(j.toString() for j in self._jplans)

    @cached_property
    def shuffles(self) -> list[tuple[str, list[str]]]:
        return [s for j in self._jplans for s in _shuffles_of(j)]


# ---- predicates: each maps a Plan to True (PASS) or False (FAIL) -----------


def all_of(*preds):
    return lambda p: all(pred(p) for pred in preds)


def any_of(*preds):
    return lambda p: any(pred(p) for pred in preds)


def has(token: str):
    return lambda p: token in p.text


def lacks(*tokens: str):
    return lambda p: not any(t in p.text for t in tokens)


def count_at_least(node: str, n: int):
    """At least ``n`` matches of the regex ``node`` in the plan text."""
    return lambda p: len(re.findall(node, p.text)) >= n


def count_at_most(node: str, n: int):
    return lambda p: len(re.findall(node, p.text)) <= n


def count_exactly(node: str, n: int):
    return all_of(count_at_least(node, n), count_at_most(node, n))


no_cartesian = lacks("CartesianProduct")
no_nested_loop = lacks("BroadcastNestedLoopJoin")
no_cross = all_of(no_cartesian, no_nested_loop)
# every Python stage Spark plans: row/Arrow UDF eval, UDTFs, (co)grouped and
# map-partition pandas/Arrow stages, Arrow aggregate and window UDFs
no_python = lacks(
    "EvalPython", "InPandas", "InArrow", "PythonUDTF", "AggregatePython", "WindowPython"
)
no_exchange = lacks("Exchange")
codegen = any_of(has("WholeStageCodegen"), has("*(1)"))  # `*(n)` = codegen stage marker


def _keyed(p, keyed: str) -> list[list[str]]:
    """Columns of each shuffle whose partitioning matches the regex ``keyed``."""
    return [cols for part, cols in p.shuffles if re.search(keyed, part)]


def shuffles_exclude(*patterns: str, keyed: str = ""):
    """No shuffle (partitioned by ``keyed``) carries a column matching one of
    the fnmatch ``patterns`` (``"text"`` exact, ``"*text*"`` substring)."""
    return lambda p: not any(
        fnmatch.fnmatchcase(c, pat)
        for cols in _keyed(p, keyed) for c in cols for pat in patterns
    )


def shuffles_within(*allowed: str, keyed: str = ""):
    """Every shuffle (partitioned by ``keyed``) carries only ``allowed`` columns."""
    return lambda p: all(set(cols) <= set(allowed) for cols in _keyed(p, keyed))


def shuffles_keyed(key: str):
    """Every shuffle is partitioned by an expression matching ``key``."""
    return lambda p: all(re.search(key, part) for part, _cols in p.shuffles)


def shuffles_at_least(n: int, keyed: str = ""):
    return lambda p: len(_keyed(p, keyed)) >= n


def shuffles_at_most(n: int, keyed: str = ""):
    return lambda p: len(_keyed(p, keyed)) <= n


def shuffles_exactly(n: int, keyed: str = ""):
    return all_of(shuffles_at_least(n, keyed), shuffles_at_most(n, keyed))


no_shuffle = shuffles_at_most(0)
VECTORS = ("*unit*", "*embedding*")
BAND_KEYED = "band#.*bkey#"  # the (band, bkey) candidate join
narrow_band_joins = all_of(
    shuffles_at_least(1, keyed=BAND_KEYED), shuffles_exclude(*VECTORS, keyed=BAND_KEYED)
)


def fed_by_aggregate(p) -> bool:
    """The single-partition exchange, if any, sits on a HashAggregate."""
    _head, single, tail = p.text.partition("Exchange SinglePartition")
    return not single or "HashAggregate" in tail[:2000]


def read_schema_lacks(col: str):
    return lambda p: "ReadSchema" in p.text and col not in p.text.split("ReadSchema")[1][:200]


def conf_is(key: str, value: str):
    return lambda p: p.dfs[0].sparkSession.conf.get(key) == value


# ---- the table ---------------------------------------------------------------

SECTIONS: list[tuple[str, object, tuple]] = []


def section(title: str, *checks: tuple, build=None):
    """Append the next section of the audit.  Without ``build`` it returns a
    decorator that registers the decorated function as the builder."""
    if build is None:
        return lambda fn: section(title, *checks, build=fn) or fn
    SECTIONS.append((title, build, checks))


@contextlib.contextmanager
def no_broadcast(spark):
    """Broadcast joins off: at audit scale small sides broadcast, but at
    100 TB both sides shuffle, and that shuffle is what some checks audit."""
    old = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, old)


class Inputs:
    """The tables the builders read.  The pipeline is audited the way it runs
    at scale: from a materialized transcripts scan (the events→transcripts
    derivation's window shuffle is datagen, not pipeline, and would pollute
    the enrich shuffle check)."""

    def __init__(self, spark, sf_dir: str, root: str):
        self.spark, self.sf_dir, self.root = spark, sf_dir, root
        tdir = os.path.join(root, "transcripts")
        transcripts_from_events(spark, sf_dir).write.mode("overwrite").parquet(tdir)
        self.turns = spark.read.parquet(tdir)
        self.parsed = parse_turns(self.turns)
        self.docs = self.read("documents")
        self.emb = self.read("embeddings")
        self.ev = self.read("events")

    def read(self, name: str):
        return self.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")

    @cached_property
    def cents(self) -> list[list[float]]:
        """The 8 md5-seeded embedding centroids the IVF-style builders share."""
        return similarity.md5_seed_centroids(self.emb, n_centroids=8)


def _bench_split():
    """~1/8 of the docs, by doc_id hash: the benchmark side of a decontam."""
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")


section(
    "Native parse stage",
    ("parse: no Python eval in plan", no_python),
    ("parse: WholeStageCodegen present", codegen),
    build=lambda x: x.parsed,
)

section(
    "Parquet scan pushdown + pruning",
    ("scan: filter pushed to parquet",
     has("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]")),
    ("scan: columns pruned to (doc_id, lang)", read_schema_lacks("text")),
    build=lambda x: Plan(text=formatted(x.docs.filter(F.col("lang") == "en").select("doc_id"))),
)


@section(
    "Broadcast enrich joins",
    ("enrich: two BroadcastHashJoins", count_exactly("BroadcastHashJoin", 2)),
    ("enrich: no SortMergeJoin", lacks("SortMergeJoin")),
    ("enrich: no fact-side shuffle", lacks("Exchange hashpartitioning")),
)
def _enrich(x):
    roles = enrich.enrich_roles(x.parsed, role_taxonomy(x.spark))
    return enrich.enrich_tools(roles, tool_registry(x.spark))


section(
    "Bucketed interval join (J5)",
    ("interval join: no CartesianProduct", no_cartesian),
    ("interval join: no BroadcastNestedLoopJoin", no_nested_loop),
    build=lambda x: entry.q_interval_join(x.spark, x.sf_dir),
)

section(
    "Salted two-phase skew aggregation",
    ("salted agg: >=4 HashAggregate stages (partial+final ×2 phases)",
     count_at_least("HashAggregate", 4)),
    build=lambda x: aggregate.salted_group_count(x.parsed, "conv_id"),
)

# the executed write plan is not exposed post-hoc; the planned-write sort is
# off by conf, so the fan-out runs concurrent writers with no Sort
section(
    "Fan-out (router) write",
    ("fan-out write: planned-write sort disabled (concurrent writers)",
     conf_is("spark.sql.optimizer.plannedWrite.enabled", "false")),
    build=lambda x: router.tag_sinks(x.parsed, router.default_rules()),
)

# the fact table is never windowed through a single partition: exactly one
# SinglePartition exchange is allowed — the conv-level offset cumsum (one
# row per conv, post-aggregate) — and it must sit above a HashAggregate
section(
    "Two-phase global ordering (W4)",
    ("turn_ordering: at most one SinglePartition exchange",
     count_at_most("Exchange SinglePartition", 1)),
    ("turn_ordering: the single-partition input is the conv-level "
     "aggregate (HashAggregate below it), not the fact table", fed_by_aggregate),
    ("turn_ordering: per-conv rank window is hash-partitioned",
     has("hashpartitioning(conv_id")),
    build=lambda x: entry.q_turn_ordering(x.spark, x.sf_dir),
)

section(
    "IVF centroid assignment (projection-only)",
    ("ivf assign: no Window on the corpus", lacks("Window")),
    ("ivf assign: no Join on the corpus", lacks("Join")),
    ("ivf assign: no Exchange on the corpus", no_exchange),
    build=lambda x: similarity.assign_centroids(x.emb, n_centroids=8, kmeans_rounds=0)[0],
)

# near-dup candidate joins are banded/prefix equi-joins, never a cross
# product (the 100-TB kill criterion for any all-pairs op)
section(
    "Near-dup candidate joins (equi-band, cross-product-free)",
    ("jaccard_prefix: no CartesianProduct", "jaccard_prefix", no_cartesian),
    ("jaccard_prefix: no BroadcastNestedLoopJoin", "jaccard_prefix", no_nested_loop),
    ("minhash_lsh: no CartesianProduct", "minhash_lsh", no_cartesian),
    ("minhash_lsh: no BroadcastNestedLoopJoin", "minhash_lsh", no_nested_loop),
    ("minhash_numpy: no CartesianProduct", "minhash_numpy", no_cartesian),
    ("minhash_numpy: no BroadcastNestedLoopJoin", "minhash_numpy", no_nested_loop),
    ("simhash: no CartesianProduct", "simhash", no_cartesian),
    ("simhash: no BroadcastNestedLoopJoin", "simhash", no_nested_loop),
    ("embed_neardup: no CartesianProduct", "embed_neardup", no_cartesian),
    ("embed_neardup: no BroadcastNestedLoopJoin", "embed_neardup", no_nested_loop),
    ("minhash_numpy: Python only as whole-batch Arrow stages", "minhash_numpy",
     lacks("BatchEvalPython")),
    ("jaccard_prefix: PPJoin pruning predicates inside the join", "jaccard_prefix",
     all_of(has("least("), has("CEIL("))),
    build=lambda x: {
        "jaccard_prefix": dedup.ngram_jaccard_pairs(x.docs, k=2, threshold=0.2),
        "minhash_lsh": dedup.minhash_lsh_pairs(x.docs, threshold=0.2),
        "minhash_numpy": dedup.minhash_lsh_pairs(x.docs, threshold=0.2, hash_impl="numpy"),
        "simhash": dedup.simhash_neardup_pairs(dedup.simhash_table(x.docs), max_hamming=8),
        "embed_neardup": similarity.embedding_neardup_pairs(
            x.emb, threshold=0.3, band_bits=4
        ),
    },
)


@section(
    "Round-3 ops (matmul signatures, md5 twin, session dedup, salted J5)",
    ("embed_neardup_matmul: no CartesianProduct", "matmul", no_cartesian),
    ("embed_neardup_matmul: no BroadcastNestedLoopJoin", "matmul", no_nested_loop),
    ("embed_neardup_matmul: Python only as whole-batch Arrow stages", "matmul",
     lacks("BatchEvalPython")),
    ("simhash_md5 twin: zero Python in plan (pure JVM expressions)", "md5", no_python),
    ("simhash_md5 twin: no CartesianProduct", "md5", no_cartesian),
    ("session_dedup: no CartesianProduct", "session", no_cartesian),
    ("session_dedup: no BroadcastNestedLoopJoin", "session", no_nested_loop),
    ("salted interval join: no CartesianProduct", "salted", no_cartesian),
    ("salted interval join: salt keys in the join condition", "salted",
     all_of(has("_asalt"), has("_osalt"))),
)
def _round3(x):
    p = x.parsed
    anchors = p.filter(F.col("turn_class") == "request").select(
        "conv_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    others = p.filter(F.col("turn_class") != "request").select("conv_id", "ts")
    return {
        "md5": dedup.simhash_neardup_pairs(dedup.simhash_md5_table(x.docs), max_hamming=8),
        "matmul": similarity.embedding_neardup_pairs_matmul(
            x.emb, threshold=0.3, band_bits=4
        ),
        "session": entry.q_session_dedup(x.spark, x.sf_dir),
        "salted": joins.interval_join(
            anchors, others, ["conv_id"], "start_ts", "end_ts", "ts",
            bucketed=True, n_salts=8,
        ),
    }


# stratified sample is a pure scan+filter (it composes with partition
# pruning at 100 TB); shard packing's only SinglePartition stage is the
# 256-row bucket-offset window, above a HashAggregate
section(
    "Corpus ops (stratified sample, shard packing, repetition)",
    ("stratified sample: zero Exchange (pure scan+filter)", "sample", no_exchange),
    ("stratified sample: zero Python", "sample", no_python),
    ("pack: exactly one SinglePartition exchange (bucket offsets)", "pack",
     count_exactly("Exchange SinglePartition", 1)),
    ("pack: the single-partition input is the 256-row bucket "
     "aggregate (HashAggregate below it), not the corpus", "pack", fed_by_aggregate),
    ("pack: offsets re-attach by broadcast (no corpus-side "
     "shuffle for the join)", "pack", has("BroadcastHashJoin")),
    ("repetition: no CartesianProduct", "repetition", no_cartesian),
    ("repetition: zero Python (explode/groupBy JVM tree)", "repetition", no_python),
    build=lambda x: {
        "pack": corpus.pack_shards(x.docs, budget=2048),
        "sample": corpus.stratified_sample(x.docs, "lang", {"en": 0.5, "zh": 0.25}),
        "repetition": corpus.repetition_stats(x.docs),
    },
)


# decontamination probes the BROADCAST benchmark gram set (the corpus never
# shuffles for the probe); PII scrub is a pure scan-fused projection
@section(
    "Decontamination + PII scrub + conv_docs assembly",
    ("decontaminate: gram probe is a BroadcastHashJoin", "decontam",
     has("BroadcastHashJoin")),
    ("decontaminate: no CartesianProduct", "decontam", no_cartesian),
    ("decontaminate: no BroadcastNestedLoopJoin", "decontam", no_nested_loop),
    ("decontaminate: zero Python (explode/join/groupBy JVM tree)", "decontam", no_python),
    ("pii scrub: zero Exchange (pure projection)", "pii", no_exchange),
    ("pii scrub: zero Python", "pii", no_python),
    ("pii scrub: WholeStageCodegen present", "pii", codegen),
    ("conv_docs: boilerplate strip is a broadcast anti-join "
     "(fact side never shuffles for it)", "conv_docs",
     all_of(has("BroadcastHashJoin"), has("LeftAnti"))),
    ("conv_docs: no SortMergeJoin", "conv_docs", lacks("SortMergeJoin")),
    ("conv_docs: no global window (assembly is a conv-keyed "
     "aggregate, no SinglePartition over the fact table)", "conv_docs", lacks("Window")),
    ("conv_docs: zero Python", "conv_docs", no_python),
)
def _decontam(x):
    bench = _bench_split()
    return {
        "decontam": corpus.decontaminate(x.docs.filter(~bench), x.docs.filter(bench), n=5),
        "pii": textstats.scrub_pii(x.docs),
        "conv_docs": corpus.transcripts_to_docs(x.turns),
    }


@section(
    "Bucketed co-located tables (write-once shuffle)",
    ("bucketed: conv-keyed aggregate carries ZERO Exchange", "agg", no_exchange),
    ("bucketed: co-located self-join is SMJ with ZERO Exchange", "join",
     all_of(no_exchange, has("SortMergeJoin"))),
    ("bucketed: scan reports the bucket layout", "join", has("Bucketed: true")),
)
def _bucketed(x):
    table = f"{BUCKET_DB}.turns_b"
    location = os.path.join(x.root, "buckdb")
    x.spark.sql(f"CREATE DATABASE IF NOT EXISTS {BUCKET_DB} LOCATION '{location}'")
    bucketed.write_bucketed(x.turns, table, "conv_id", 8, sort_cols=["conv_id", "turn_idx"])
    bt = bucketed.read_bucketed(x.spark, table)
    with no_broadcast(x.spark):
        join = Plan(bt.alias("a").join(bucketed.read_bucketed(x.spark, table).alias("b"),
                                       "conv_id"))
    return {"join": join, "agg": bt.groupBy("conv_id").agg(F.count("*").alias("n"))}


# the candidate probe is an equi join on the band index, and the verify
# reads only the two signature arrays
@section(
    "Incremental LSH ingest (state probe)",
    ("incremental: no CartesianProduct", no_cartesian),
    ("incremental: no BroadcastNestedLoopJoin", no_nested_loop),
    ("incremental: all-JVM (sig-agreement verify has no Python eval)", no_python),
)
def _incremental(x):
    docs200 = x.docs.limit(200).select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    half = docs200.filter(F.xxhash64("doc_id") % 2 == 0)
    r0 = incremental.ingest_batch(
        half, x.spark.createDataFrame([], "id string, sig array<bigint>"),
        x.spark.createDataFrame([], "id string, band int, bkey bigint"),
    )
    return incremental.ingest_batch(
        docs200.subtract(half), r0.new_sig_rows, r0.new_band_rows
    ).accepted


# the band joins carry ONLY (id, band, bkey), never the unit vectors (512 B
# each, exploded ×n_bands); exact dedup's shuffle key is the 16-byte md5 —
# the md5 survives planning as a _groupingexpression, so the load-bearing
# assertion is the absence of the text column
@section(
    "Round-4 shuffle shapes (narrow band joins, hash-keyed exact dedup)",
    ("embed_neardup[expr]: band-join shuffles exist and carry "
     "no vector column", "expr", narrow_band_joins),
    ("embed_neardup[matmul]: band-join shuffles exist and carry "
     "no vector column", "matmul", narrow_band_joins),
    ("exact_dedup: shuffles exist and never carry the text column", "exact",
     all_of(shuffles_at_least(1), shuffles_exclude("*text*"))),
)
def _round4_shapes(x):
    with no_broadcast(x.spark):
        return {
            "matmul": Plan(similarity.embedding_neardup_pairs_matmul(
                x.emb, threshold=0.3, band_bits=4)),
            "expr": Plan(similarity.embedding_neardup_pairs(x.emb, threshold=0.3, band_bits=4)),
            "exact": Plan(dedup.exact_dedup(x.docs)),
        }


# the bench side (bounded eval suites) broadcasts at every join; the only
# shuffles are the candidate-pair dedup and the per-doc hit fold
@section(
    "Fuzzy decontamination (broadcast bench side, corpus never shuffles)",
    ("fuzzy_decontaminate: every bench-side join is broadcast "
     "(no sort-merge join anywhere)",
     all_of(lacks("SortMergeJoin"), count_at_least("BroadcastHashJoin", 3))),
    ("fuzzy_decontaminate: no exchange carries text or shingle arrays",
     shuffles_exclude("text", "sh*")),
)
def _fuzzy_decontam(x):
    bench = _bench_split()
    return dedup.fuzzy_decontaminate(
        x.docs.filter(~bench), x.docs.filter(bench), threshold=0.2
    )


# the cross-corpus probe is a (band, bkey) equi join against the persisted
# index; units re-attach by id only for the verify
@section(
    "Incremental EMBED ingest (state probe)",
    ("incremental embed: no CartesianProduct", no_cartesian),
    ("incremental embed: no BroadcastNestedLoopJoin", no_nested_loop),
    ("incremental embed: probe band-join shuffles carry no vector column",
     narrow_band_joins),
)
def _incremental_embed(x):
    emb200 = x.emb.limit(200).select("vec_id", "embedding")
    half = emb200.filter(F.xxhash64(F.col("vec_id").cast("string")) % 2 == 0)
    r0 = incremental_embed.ingest_embedding_batch(
        half, *incremental_embed.empty_embed_state(x.spark), threshold=0.3, band_bits=4,
    )
    with no_broadcast(x.spark):
        return Plan(incremental_embed.ingest_embedding_batch(
            emb200.subtract(half), r0.new_unit_rows, r0.new_band_rows,
            threshold=0.3, band_bits=4,
        ).accepted)


# the only corpus-sized shuffle is keyed by the gram md5 (16 B) + int
# positions; text reaches the rebuild via the scan
section(
    "Span-level dedup (gram-hash shuffles only)",
    ("span_dedup: shuffles exist and none carries text or token arrays",
     all_of(shuffles_at_least(1), shuffles_exclude("text", "_toks"))),
    ("span_dedup: rebuild join is broadcast (text stays scan-side)",
     has("BroadcastHashJoin")),
    ("span_dedup: no Python eval (JVM higher-order rebuild)", no_python),
    build=lambda x: span_dedup.remove_dup_spans(x.docs, k=3),
)


# assignment is projection-only; the within-cluster self-join is equi on
# centroid_id.  Both join sides are the same assigned frame, so Spark plans
# one Exchange and a ReusedExchange: each vector crosses the wire once
@section(
    "SemDeDup (projection assignment + cluster-keyed pairs)",
    ("semdedup: centroid assignment has zero Exchange", "assign", no_exchange),
    ("semdedup: no CartesianProduct / BroadcastNestedLoopJoin", "pairs", no_cross),
    ("semdedup: pair-join shuffles exist, all keyed by centroid_id", "pairs",
     all_of(shuffles_at_least(1), shuffles_keyed("centroid_id"))),
)
def _semdedup(x):
    assign = Plan(similarity.assign_to_centroids(x.emb, x.cents))
    with no_broadcast(x.spark):
        pairs = Plan(semdedup.semdedup_pairs(
            x.emb, threshold=0.3, cents=x.cents, max_cluster=None))
    return {"pairs": pairs, "assign": assign}


section(
    "Temperature mixing (count agg + broadcast rates)",
    ("temperature_mix: rate join is broadcast onto the corpus", has("BroadcastHashJoin")),
    ("temperature_mix: shuffles carry only per-source aggregates",
     shuffles_exclude("text", "doc_id")),
    build=lambda x: corpus.temperature_mix(x.docs, "source", temperature=2.0, target_fraction=0.5),
)


# with the contract projection Catalyst prunes text out of the label-attach
# join; a regression that drags text through the group join fails here
@section(
    "Leakage-safe split (pruned label-attach join)",
    ("leakage_split: projected result shuffles never carry text",
     shuffles_exclude("*text*")),
)
def _leakage_split(x):
    docs = x.docs.limit(200)
    pairs = dedup.ngram_jaccard_pairs(docs, k=2, threshold=0.2)
    groups = dedup.neardup_groups(docs.select(F.col("doc_id").alias("id")), pairs)
    return corpus.leakage_safe_split(docs, groups, 0.1).select("doc_id", "rep_id", "split")


section(
    "Quality classifier (hashed-feature shuffles, broadcast weights)",
    ("quality_classifier: no shuffle carries the text column", shuffles_exclude("*text*")),
    ("quality_classifier: weight join is broadcast", has("BroadcastHashJoin")),
    build=lambda x: textstats.ngram_quality_classifier(
        x.docs, F.col("lang") == "en", n_buckets=4096
    ),
)

# the bench matrix rides in the closure: one pass over the embedding column
section(
    "Semantic decontamination (zero-shuffle matmul scan)",
    ("semantic_decontam_matmul: zero shuffles (scan -> mapInPandas)", no_shuffle),
    ("semantic_decontam_matmul: no join operator in the plan", lacks("Join")),
    build=lambda x: similarity.semantic_decontaminate_matmul(
        x.emb.filter(F.col("vec_id") % 37 != 0),
        x.emb.filter(F.col("vec_id") % 37 == 0),
        threshold=0.3,
    ),
)

section(
    "Corpus audit report (one-pass aggregate)",
    ("corpus_report: exactly one exchange (single-pass aggregate)", shuffles_exactly(1)),
    ("corpus_report: the exchange carries no text column", shuffles_exclude("*text*")),
    ("corpus_report: partial aggregation before the exchange "
     "(map-side combine)", has("partial_")),
    build=lambda x: corpus.corpus_report(x.docs, gopher_min_stopwords=1),
)

section(
    "Line-level corpus dedup (hash-keyed shuffle, scan-side rebuild)",
    ("line_dedup: no exchange carries line or document text",
     shuffles_exclude("text", "_line", "clean_text")),
    ("line_dedup: no Python in the plan", no_python),
    build=lambda x: span_dedup.dedup_lines(x.docs, min_words=2),
)

# line-keyed (_k) exchanges may carry the map-side-combined count and the
# (k, doc) distinct pairs, never occurrence rows (pos) or raw line text
section(
    "Common-line stripping (broadcast frequency gate)",
    ("strip_common_lines: line-key exchanges carry only the "
     "map-side-combined count, never occurrence rows (the "
     "occurrence probe rides the broadcast)",
     all_of(shuffles_exclude("_line"), shuffles_exclude("pos", keyed=r"hashpartitioning\(_k"))),
    ("strip_common_lines: common-set probe is a broadcast join", has("BroadcastHashJoin")),
    build=lambda x: span_dedup.strip_common_lines(x.docs, min_words=2),
)

section(
    "Gopher quality rules (scan-fused projection)",
    ("gopher_rules: zero shuffles (pure projection gate)", no_shuffle),
    ("gopher_rules: no Python in the plan", no_python),
    build=lambda x: textstats.gopher_rules(x.docs),
)

# the only SinglePartition exchange allowed is the unigram LM's 1-row
# corpus-total aggregate; the bucket window is lang-partitioned
section(
    "CCNet perplexity buckets (histogram CDF, no corpus-sized partition)",
    ("ppl_buckets: no exchange carries the document text", shuffles_exclude("text", "*.text")),
    ("ppl_buckets: SinglePartition exchanges are scalar-aggregate "
     "only (bucket window is lang-partitioned over the histogram)",
     all_of(shuffles_at_most(1, keyed="SinglePartition"),
            shuffles_exclude("doc_id", "tok", "_smicro", "surprise", keyed="SinglePartition"))),
    build=lambda x: textstats.perplexity_buckets(x.docs, n_buckets=3),
)

section(
    "Winnowing fingerprints (zero-shuffle sketch)",
    ("winnow: zero shuffles (projection + explode only)", no_shuffle),
    ("winnow: no Python in the plan", no_python),
    build=lambda x: textstats.winnow_fingerprints(x.docs, k=16, w=8, hash_impl="xxhash64"),
)

section(
    "Cluster-balanced sampling (broadcast rates, narrow agg)",
    ("cluster_balanced: no exchange carries a vector column", shuffles_exclude(*VECTORS)),
    ("cluster_balanced: rate table joins back by broadcast", has("BroadcastHashJoin")),
    build=lambda x: semdedup.cluster_balanced_sample(x.emb, cap_per_cluster=40, cents=x.cents),
)


@section(
    "BM25 retrieval (query-vocab broadcast, text-free shuffles)",
    ("bm25: no exchange carries the document text column", shuffles_exclude("text")),
    ("bm25: query vocabulary filters postings via broadcast join", has("BroadcastHashJoin")),
    ("bm25: no Python in the plan", no_python),
)
def _bm25(x):
    queries = x.spark.createDataFrame(
        [(1, "hash join table"), (2, "slow scan filter")], "query_id int, query_text string"
    )
    return retrieval.bm25_topk(x.docs, queries, k=5)


# the bench bits ride as ONE packed-longs row; the only corpus-sized
# exchange is the per-doc count, keyed by id
section(
    "Bloom decontamination (packed-bitmap broadcast probe)",
    ("bloom decontaminate: no exchange carries gram/text strings "
     "(the per-doc count is the only corpus-sized shuffle)",
     all_of(shuffles_at_least(1), shuffles_exclude("gram", "text"))),
    ("bloom decontaminate: probe is the one-row packed-bitmap "
     "broadcast (bit tests in the projection — no per-position "
     "explode/equi-join)",
     all_of(has("BroadcastNestedLoopJoin"), lacks("BroadcastHashJoin"))),
    ("bloom decontaminate: no Python in the plan", no_python),
    build=lambda x: corpus.decontaminate_bloom(
        x.docs, x.docs.limit(20), n=5, m_bits=1 << 20, n_hashes=4
    ),
)

section(
    "Token-window chunking (shuffle-free generate)",
    ("chunking: zero shuffles (scan -> project -> generate)", no_shuffle),
    ("chunking: no Python in the plan", no_python),
    ("chunking: generator emits pre-sliced chunk structs", has("Generate explode")),
    build=lambda x: chunking.chunk_documents(x.docs, max_tokens=24, overlap=6),
)

section(
    "Per-group quota capping (narrow rank, broadcast re-attach)",
    ("cap_per_group: no exchange carries the document text "
     "(rank window sees only the (id, group) projection)", shuffles_exclude("text", "*.text")),
    ("cap_per_group: over-cap set and survivor ids join by broadcast",
     has("BroadcastHashJoin")),
    ("cap_per_group: no Python in the plan", no_python),
    build=lambda x: corpus.cap_per_group(x.docs, "lang", 100),
)

# placement is the narrow two-phase cumsum (pack_shards' shape); the text
# path re-attaches by one id equi-join and explodes pre-sliced segments
section(
    "Sequence packing (narrow placement, one text attach)",
    ("pack_sequences (narrow): no exchange carries the document text", "narrow",
     shuffles_exclude("text", "*.text")),
    ("pack_sequences (narrow): exactly one SinglePartition exchange "
     "(the 256-row bucket offsets)", "narrow", count_exactly("Exchange SinglePartition", 1)),
    ("pack_sequences (text): generator emits pre-sliced segment structs", "text",
     has("Generate explode")),
    ("pack_sequences (text): no Python in the plan", "text", no_python),
    build=lambda x: {
        "text": chunking.pack_sequences(x.docs, seq_len=256),
        "narrow": chunking.pack_sequences(x.docs, seq_len=256, emit_text=False),
    },
)


@section(
    "Levenshtein verify (equi-join text attach, JVM distance)",
    ("lev verify: no CartesianProduct", no_cartesian),
    ("lev verify: no BroadcastNestedLoopJoin", no_nested_loop),
    ("lev verify: no Python (JVM levenshtein expression)", no_python),
)
def _levenshtein(x):
    docs = x.docs.limit(300).select(F.col("doc_id").alias("id"), "text")
    cands = dedup.minhash_lsh_pairs(docs, id_col="id", threshold=0.2)
    return dedup.levenshtein_verified_pairs(
        cands.select("id_a", "id_b"), docs, max_dist=8, id_col="id"
    )


# the as-of join is ONE shuffle on the key (union-tag + window carry)
section(
    "As-of join (single key shuffle, window carry)",
    ("asof: no CartesianProduct", no_cartesian),
    ("asof: no BroadcastNestedLoopJoin", no_nested_loop),
    ("asof: no SortMergeJoin/ShuffledHashJoin (window carry, not a join)",
     lacks("SortMergeJoin", "ShuffledHashJoin")),
    ("asof: exactly one key-partitioned exchange", shuffles_exactly(1, keyed="_k#|user_id#")),
    ("asof: zero Python", no_python),
    build=lambda x: timeseries.asof_join(
        x.ev.filter(F.col("event_type") == "error"),
        x.ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        ["value", "event_id"],
        right_order="event_id",
    ),
)

section(
    "Snapshot diff (fingerprint-only join payload)",
    ("snapshot_diff: no exchange carries text", shuffles_exclude("text")),
    ("snapshot_diff: zero Python", no_python),
    build=lambda x: corpus.snapshot_diff(x.docs, x.docs, "doc_id", ["text", "lang", "source"]),
)


@section(
    "Sketches (KMV bottom-k, CMS broadcast probe, histogram quantiles)",
    ("kmv global: TakeOrderedAndProject (no single-partition sort)", "kmv",
     has("TakeOrderedAndProject")),
    ("kmv grouped: every exchange carries only (group, hash)", "kmv_grouped",
     shuffles_within("event_type", "h", "_rk")),
    ("cms probe: broadcast join (sketch side bounded at d*w rows)", "cms",
     has("BroadcastHashJoin")),
    ("hist_quantiles: exchanges carry cells, not values", "quantiles",
     shuffles_exclude("value")),
)
def _sketches(x):
    ev = x.ev
    cms = sketches.cms_sketch(ev, "user_id", depth=4, width=256)
    return {
        "cms": sketches.cms_estimate(
            cms, ev.select("user_id").distinct(), "user_id", depth=4, width=256
        ),
        "kmv": sketches.kmv_sketch(ev, "props", k=64),
        "kmv_grouped": sketches.kmv_sketch(ev, "props", k=64, group="event_type"),
        "quantiles": sketches.hist_quantiles(
            ev, "value", [0.5, 0.99], resolution=0.25, group="event_type"
        ),
    }


section(
    "Hard-negative mining (batched matmul, candidate-only shuffle)",
    ("hard_negatives_matmul: no CartesianProduct", no_cartesian),
    ("hard_negatives_matmul: no BroadcastNestedLoopJoin", no_nested_loop),
    ("hard_negatives_matmul: whole-batch Arrow stage present",
     any_of(has("InPandas"), has("ArrowEvalPython"))),
    build=lambda x: similarity.hard_negatives_matmul(
        x.emb, x.emb.filter(F.col("vec_id") % 50 == 0), k=3
    ),
)


@section(
    "Session-9 ops (expectations, bigram LM, funnel, transitions, weighted sample)",
    ("expectations (row-local rules): zero hashpartitioning exchanges"
     " — one scan, one 1-row aggregate", "expectations",
     shuffles_at_most(0, keyed="hashpartitioning")),
    ("expectations: zero Python", "expectations", no_python),
    ("bigram LM: no exchange carries document text", "bigram", shuffles_exclude("text")),
    ("funnel: exactly one key shuffle", "funnel",
     all_of(shuffles_exactly(1, keyed="hashpartitioning"), no_python)),
    ("transitions: exactly one key shuffle (lag window)", "transitions",
     shuffles_exactly(1, keyed=r"hashpartitioning\(user_id")),
    ("weighted sample: TakeOrderedAndProject (no global sort)", "weighted",
     has("TakeOrderedAndProject")),
)
def _session9(x):
    ev = x.ev
    rules = [
        expectations.not_null("value"),
        expectations.accepted_values("event_type", ["click", "view"]),
        expectations.in_range("value", 0.0, 100.0),
        expectations.min_rows(10),
    ]
    return {
        "expectations": expectations.check_expectations(ev, rules),
        "bigram": textstats.bigram_surprise(x.docs),
        "funnel": timeseries.funnel_steps(
            ev, "user_id", "ts", "event_type", ["signup", "view"], "event_id"
        ),
        "transitions": windows_ops.transition_counts(
            ev, "user_id", ["ts", "event_id"], "event_type"
        ),
        "weighted": corpus.weighted_sample(x.docs, "n_chars", k=50),
    }


@section(
    "Joins batch 3 (bloom prefilter, skew split) + OHLC",
    ("bloom join: zero Python (bit tests are JVM expressions)", "bloom", no_python),
    ("bloom join: prefilter precedes the equi-join "
     "(bitmap element_at in a Filter above the scan)", "bloom",
     all_of(has("element_at"), has("Filter"))),
    ("skew join: broadcast hot half + union with shuffle cold half", "skew",
     all_of(has("BroadcastHashJoin"), has("Union"))),
    ("ohlc: single narrow aggregate, no window", "ohlc",
     all_of(lacks("Window"), shuffles_exclude("value"), shuffles_exactly(1))),
)
def _joins3(x):
    ev = x.ev
    users = ev.select("user_id").distinct()
    dims = users.filter(F.col("user_id") % 17 == 0).withColumn("tag", F.lit("x"))
    return {
        "bloom": joins.bloom_prefiltered_join(ev, dims, "user_id", m_bits=1 << 16),
        "skew": joins.skew_aware_join(
            ev, users.withColumn("tag", F.lit("y")), "user_id", threshold_frac=0.0067
        ),
        "ohlc": timeseries.downsample_ohlc(
            ev, "event_type", "ts", "value", "event_id", 86400
        ),
    }


def _tool_edges(ev):
    """A small weighted graph over events: event_type → user_id mod 7."""
    return ev.groupBy(
        F.col("event_type").alias("src"),
        (F.col("user_id") % 7).cast("string").alias("dst"),
    ).agg(F.count("*").alias("w"))


# int8 ANN candidates carry (ids, integer score), never a vector; graph
# iterations join ranks/labels by broadcast
@section(
    "Quantized ANN (narrow candidates) + integer PageRank",
    ("quantized topk: no embedding/vector column in any exchange", "quantized",
     shuffles_exclude("*embedding*", "*qvec*", "*unit*")),
    ("quantized topk: corpus codes never collected "
     "(one mapInPandas scan feeds the rank window)", "quantized",
     all_of(has("InPandas"), no_cartesian)),
    ("pagerank: every iteration joins ranks by broadcast "
     "(3 iters -> >=3 BroadcastHashJoins)", "pagerank",
     count_at_least("BroadcastHashJoin", 3)),
    ("pagerank: no cross product at any iteration", "pagerank", no_cross),
    ("tfidf: document text never enters an exchange", "tfidf", shuffles_exclude("*text*")),
    ("tfidf: the only SinglePartition exchange is the one-row "
     "corpus-total count (per-doc rank window never globalizes)", "tfidf",
     all_of(shuffles_within("count", keyed="SinglePartition"),
            shuffles_at_most(1, keyed="SinglePartition"))),
    ("label propagation: per-round broadcast label join, "
     "no cross product", "labels", all_of(count_at_least("BroadcastHashJoin", 3), no_cartesian)),
    ("triangles: equi-joins only (no cross product / BNLJ)", "triangles", no_cross),
    # event_type/_groupingexpression belong to the upstream edge-BUILD
    # aggregate, not the triangle machinery
    ("triangles: every exchange carries only node-id columns "
     "(plus the upstream edge-build grouping keys)", "triangles",
     shuffles_within("a", "b", "c", "node", "count", "src", "dst",
                     "event_type", "_groupingexpression")),
)
def _quantized_graph(x):
    edges = _tool_edges(x.ev)
    return {
        "quantized": similarity.quantized_topk_matmul(
            x.emb, x.emb.filter(F.col("vec_id") % 50 == 0), k=3
        ),
        "pagerank": graph.pagerank(edges, n_iters=3),
        "tfidf": textstats.tfidf_top_terms(x.docs, m=3),
        "labels": graph.label_propagation(edges, n_iters=3),
        "triangles": graph.triangle_counts(edges),
    }


@section(
    "HLL registers / temporal burst detection / URL domain gate",
    ("hll grouped sketch: pure aggregation — no per-group rank "
     "window anywhere in the plan (the grouped-KMV cost this "
     "sketch exists to avoid)", "hll", lacks("Window")),
    ("hll: every exchange carries only (group, bucket, rho) "
     "register rows / estimate columns — never the value column", "hll",
     shuffles_exclude("*user_id*")),
    ("burst detection: the raw event stream is never windowed — "
     "every exchange carries only (key, hour, count/spine) "
     "columns, no event-level column", "burst",
     shuffles_within("key", "hour_id", "cnt", "count", "min", "max")),
    ("url blocklist gate: scan-fused pure projection — zero "
     "exchanges, zero Python", "urls", all_of(no_exchange, no_python)),
)
def _hll_burst_urls(x):
    docs = urls.with_url_domains(entry._docs_with_urls(x.spark, x.sf_dir))
    return {
        "hll": sketches.hll_distinct(x.ev, "user_id", p=12, group="event_type"),
        "burst": timeseries.burst_hours(x.ev, "ts", "event_type", n_trail=24, z=3),
        "urls": urls.blocklist_filter(docs, ["tracker.com"]),
    }


section(
    "Template mining / CUSUM drift / path rollup",
    ("template mining: the raw line text never enters an "
     "exchange — shuffles carry only (n_tok, head, pos, tok) "
     "group/position cells and their aggregates", "templates",
     shuffles_exclude("text", "_tk")),
    ("template mining: zero Python in the plan", "templates", no_python),
    ("cusum drift: no SinglePartition exchange — the prefix-sum "
     "reflection runs per key, never globally ordered", "cusum",
     shuffles_at_most(0, keyed="SinglePartition")),
    ("cusum drift: every exchange carries only (key, hour, "
     "count/spine) columns — the event stream itself is never "
     "windowed", "cusum",
     shuffles_within("key", "hour_id", "cnt", "count", "min", "max", "_mn", "_mx")),
    ("path rollup: two-phase aggregate — partial HashAggregate "
     "before the (depth, prefix) exchange collapses hot prefixes "
     "map-side", "rollup", count_at_least("HashAggregate", 2)),
    ("path rollup: exchanges carry only (depth, prefix, count) — "
     "never the text or full-path row", "rollup", shuffles_exclude("text", "url_path")),
    build=lambda x: {
        "templates": templates.mine_templates(x.turns, "text"),
        "cusum": timeseries.cusum_hours(x.ev, "ts", "event_type", k_milli=300, h_mult=2),
        "rollup": urls.path_prefix_rollup(x.parsed, "url_path", max_depth=4),
    },
)

section(
    "Phrase search / embedding outliers / badwords gate",
    ("phrase search: no window, no join — anchor coverage is "
     "pure aggregation", "phrase", lacks("Window", "Join")),
    ("phrase search: document text never enters an exchange — "
     "shuffles carry only (doc, anchor/offset) cells", "phrase", shuffles_exclude("text")),
    ("embedding outliers: scan-fused projection — zero "
     "exchanges, zero Python (centroids are literals)", "outliers",
     all_of(no_exchange, no_python)),
    ("badwords gate: scan-fused projection — zero exchanges, "
     "zero Python (blocklist is a literal IN-list)", "badwords",
     all_of(no_exchange, no_python)),
    build=lambda x: {
        "phrase": retrieval.phrase_search(x.docs, "the data"),
        "outliers": similarity.centroid_outliers(x.emb, x.cents, max_cos_micro=80_000),
        "badwords": textstats.badwords_gate(x.docs, ["vector"], max_hits=0),
    },
)

section(
    "Tool-path motifs / entropy profile / correlation",
    ("tool-path motifs: exactly one key exchange feeds the lead "
     "window; the path count is map-side combinable (two-phase "
     "HashAggregate)", "motifs",
     all_of(shuffles_exactly(1, keyed="conv_id"), count_at_least("HashAggregate", 2))),
    ("entropy profile: exchanges carry only (column, value, "
     "count) cells / per-column aggregates — never a source row", "entropy",
     shuffles_within("column", "val", "c", "count", "sum", "isEmpty", "n", "n_distinct",
                     "_sclc")),
    ("correlation: ONE algebraic aggregate — no window, no "
     "join; the only exchange is the one-row final merge", "correlation",
     lacks("Window", "Join")),
    build=lambda x: {
        "motifs": windows_ops.state_path_ngrams(
            x.parsed, "conv_id", ["turn_idx"], "tool", k=3, exclude=["-"]
        ),
        "entropy": expectations.column_entropy(x.ev, ["event_type", "user_id"]),
        "correlation": expectations.column_correlation(x.ev, "value", "user_id"),
    },
)


@section(
    "Pettitt changepoint / association rules / weighted-SP round",
    ("pettitt: every exchange carries spine cells (key, hour, "
     "cnt, ranks) — never a raw event row", "pettitt",
     shuffles_exclude("event_id", "user_id", "value", "ts")),
    ("association rules: exchanges carry basket/pair rows only — "
     "no transcript payload column ever shuffles", "rules",
     all_of(shuffles_exclude("text", "raw", "turn_class", "http_code"), no_cartesian)),
    ("association rules: item totals and group count attach via "
     "broadcast (vocabulary-sized by construction)", "rules",
     count_at_least("Broadcast(Hash|NestedLoop)Join", 3)),
    ("weighted-SP relax round: the join carries only (node, dist) "
     "x (s, d, w) — the frontier, never the graph payload; min is "
     "two-phase", "relax",
     all_of(shuffles_within("node", "dist", "s", "d", "w", "min", "count", "event_type"),
            count_at_least("HashAggregate", 2), no_cartesian)),
)
def _pettitt_rules_relax(x):
    types = x.ev.select("event_type").distinct()
    edges = types.select(
        F.col("event_type").alias("s"),
        F.col("event_type").alias("d"),
        F.lit(1).cast("long").alias("w"),
    )
    frontier = types.select(F.col("event_type").alias("node"), F.lit(0).cast("long").alias("dist"))
    return {
        "relax": graph._relax(frontier, edges),
        "pettitt": timeseries.pettitt_changepoint(x.ev, "ts", "event_type"),
        "rules": itemsets.pair_association_rules(
            x.parsed.filter(F.col("tool") != "-"), "conv_id", "tool", min_pair_count=2
        ),
    }


@section(
    "Heavy hitters / time-weighted avg / gap-fill / seasonal MAD",
    ("heavy hitters: the token tail never shuffles — exchanges "
     "carry only candidate/partial-count cells (tok,count / item "
     "/ 1-row total), candidate semi-probe and total attach are "
     "broadcast, no cross product", "hh",
     all_of(shuffles_within("tok", "count", "item", "sum", "cnt", "_n", "isEmpty"),
            no_cartesian, count_at_least("BroadcastHashJoin", 1),
            count_exactly("BroadcastNestedLoopJoin", 1))),
    ("heavy hitters: Misra-Gries candidate pass is shuffle-free "
     "Arrow batches — mapInPandas appears with no exchange below "
     "it (<= k+1 rows/partition by construction)", "hh", has("InPandas")),
    ("time-weighted avg: exactly one key exchange feeds the "
     "LOCF window, the DECIMAL(38,0) aggregate merges partials "
     "on the same key — no raw gauge column in any exchange", "twa",
     all_of(shuffles_exclude("value", "event_type", "text"), count_exactly("Window", 1),
            shuffles_exactly(2))),
    ("gap-fill: both carry directions collapse into ONE Window "
     "node over one key exchange; the only shuffles are the "
     "map-side-combined gauge/min-max partials (spine cells, "
     "never an event row)", "gapfill",
     all_of(shuffles_within("key", "hour_id", "sum", "count", "min", "max"),
            count_exactly("Window", 1))),
    ("seasonal median/MAD: raw events shuffle ONCE (hourly-count "
     "partials); all median/MAD attach joins are spine-sized "
     "broadcasts, no cartesian", "seasonal",
     all_of(shuffles_within("key", "hour_id", "count", "min", "max"), no_cartesian,
            count_at_least("BroadcastHashJoin", 3))),
)
def _heavy_hitters_gauges(x):
    ev = x.ev
    return {
        "hh": sketches.heavy_hitters(textstats.token_table(x.docs), "tok", k=50),
        "twa": timeseries.time_weighted_avg(ev, "ts", "user_id", "value", "event_id"),
        "gapfill": timeseries.gapfill_linear(
            timeseries.hourly_gauge(ev, "ts", "event_type", "value")
        ),
        "seasonal": timeseries.seasonal_anomalies(ev, "ts", "event_type", n_mad=3),
    }


# raw rows fold into bounded VALUE CELLS in ONE map-side-combined
# aggregate; every window / single-partition exchange runs over cells
@section(
    "Exact-integer statistics (trend, MW-U, KS, chi2, AUC, gini, k-anon)",
    ("Mann-Kendall trend: no cartesian; its one Python stage is "
     "the whole-batch Arrow pairwise-slope fold (never "
     "row-at-a-time)", "trend", all_of(no_cartesian, lacks("BatchEvalPython"))),
    ("Mann-Whitney: exchanges carry value CELLS (micro value, "
     "conditional counts), never the raw value/group columns", "mw",
     shuffles_exclude("value", "event_type")),
    ("KS drift: cumulative window runs over cells — every "
     "single-partition exchange is cell-sized", "ks", shuffles_exclude("value")),
    ("chi-square: one (a,b) cell count; margin windows over "
     "cells only (r/c/n attach), rows never re-shuffle", "chi2",
     shuffles_within("_a", "_b", "o", "r", "c", "n", "ka", "kb", "_groupingexpression",
                     "count")),
    ("ranking AUC: rank_compare's cell plan — conditional cell "
     "counts then a cell window, raw scores absent from "
     "exchanges", "auc", shuffles_exclude("s", "value")),
    ("gini: one narrow (key,count) partial shuffle, then "
     "count-value cells; no global row_number — the only "
     "ordered window is over cells", "gini",
     shuffles_within("x", "m", "_below", "_nk", "user_id", "count")),
    ("k-anonymity: one narrow (qi) count shuffle, no window", "kanon",
     all_of(shuffles_exactly(1, keyed="hashpartitioning"), lacks("Window"))),
    ("cell-fold stats (MW/KS/chi2/AUC/gini/k-anon): zero Python "
     "anywhere", "cells", no_python),
)
def _exact_stats(x):
    ev = x.ev
    frames = {
        "chi2": expectations.chi2_independence(
            ev.select("event_type", F.floor(F.hour("ts") / 6).alias("day_q")),
            "event_type", "day_q", crit_micro=21_026_000,
        ),
        "trend": timeseries.trend_test(ev, "ts", "event_type"),
        "mw": expectations.rank_compare(ev, "value", "event_type", "view", "click"),
        "ks": expectations.ks_test(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "signup"),
            "value",
        ),
        "auc": expectations.ranking_auc(
            ev.select(F.col("value").alias("s"), (F.col("event_type") == "purchase").alias("y")),
            "s", "y",
        ),
        "gini": expectations.gini_concentration(ev, "user_id"),
        "kanon": expectations.k_anonymity_violations(ev, ["user_id", "event_type"], 10),
    }
    cells = ("mw", "ks", "chi2", "auc", "gini", "kanon")
    return {**frames, "cells": Plan(*(frames[k] for k in cells))}


@section(
    "ACF / rolling distinct actives / SLO burn-rate",
    ("autocorrelation: ALL lags come from ONE window pass per "
     "key (exactly one Window node), spine cells only in "
     "exchanges, zero Python", "acf",
     all_of(count_exactly("Window", 1), no_python, shuffles_exclude("value", "props"))),
    ("rolling actives: raw stream compresses to DISTINCT "
     "(user,day) BEFORE the x7 expand — exchanges carry "
     "presence/expansion cells, the max-day attach is a 1-row "
     "broadcast", "actives",
     all_of(shuffles_within("_u", "_d", "day_id", "count", "_mx", "max",
                            "_groupingexpression"),
            has("BroadcastNestedLoopJoin"))),
    ("burn-rate: one hourly conditional-count aggregate; both "
     "rolling windows in ONE Window node over dense spine "
     "cells; zero Python", "burn",
     all_of(shuffles_within("hour_id", "tot", "err", "count", "sum", "min", "max",
                            "_mn", "_mx"),
            count_exactly("Window", 1), no_python)),
)
def _acf_actives_burn(x):
    ev = x.ev
    return {
        "burn": timeseries.burn_rate_alerts(
            ev.withColumn("is_err", F.col("event_type") == "error"),
            "ts", "is_err", slo_milli=800, thr_milli=1000, long_h=6, short_h=1,
        ),
        "acf": timeseries.autocorrelation(ev, "ts", "event_type", lags=(1, 24)),
        "actives": timeseries.rolling_active_users(ev, "ts", "user_id", 7),
    }


section(
    "PSI distribution drift",
    ("psi: raw values compress to per-bin counts at the scan "
     "side — no exchange carries the value column, only "
     "(bin, count/ca/cb) cells", shuffles_exclude("value", "props")),
    ("psi: the totals attach is a 1-row broadcast onto the "
     "bounded bin table (no bin-table re-shuffle), zero Python",
     all_of(has("BroadcastNestedLoopJoin"), no_python)),
    build=lambda x: expectations.psi_drift(
        x.ev.filter(F.col("event_type") == "purchase"),
        x.ev.filter(F.col("event_type") == "signup"),
        "value", width=0.5,
    ),
)

section(
    "Flesch/FK readability",
    ("readability: pure zero-shuffle zero-Python projection "
     "(fuses into the parquet scan at 100 TB)", all_of(no_exchange, no_python)),
    build=lambda x: textstats.readability(x.docs),
)

section(
    "SoftDedup reweighting",
    ("softdedup: every exchange is keyed by (md5, length) — "
     "document text never shuffles", all_of(shuffles_at_least(1), shuffles_exclude("text"))),
    build=lambda x: dedup.softdedup_weights(x.docs),
)


@section(
    "Hybrid retrieval (BM25 + Jaccard, RRF fusion)",
    ("hybrid RRF: query vocabulary probes ride broadcast joins "
     "(postings filtered at the scan), no SortMergeJoin anywhere",
     all_of(count_at_least("BroadcastHashJoin", 3), lacks("SortMergeJoin"))),
    ("hybrid RRF: no exchange carries document text — only "
     "ids, terms and integer score cells", shuffles_exclude("text")),
    ("hybrid RRF: zero per-row Python", no_python),
)
def _hybrid_rrf(x):
    queries = x.spark.createDataFrame(entry.BM25_QUERIES, "query_id int, query_text string")
    return retrieval.rrf_fuse(
        [retrieval.bm25_topk(x.docs, queries, k=20),
         retrieval.jaccard_topk(x.docs, queries, k=20)],
        k=5,
    )


@section(
    "Neighborhood-overlap similarity",
    ("neighborhood overlap: every exchange carries node-id pairs "
     "and counts only (the triangle_counts discipline); wedge "
     "join is an equi-join on the shared neighbor — no cross "
     "product",
     all_of(shuffles_within("node", "nb", "node_a", "node_b", "d", "_da", "_db", "n_common",
                            "count", "conv_id", "turn_idx", "tool", "from_state",
                            "to_state", "n"),
            no_cartesian)),
)
def _neighborhood_overlap(x):
    edges = windows_ops.transition_counts(
        x.parsed.filter(F.col("tool") != "-"), "conv_id", ["turn_idx"], "tool"
    )
    return graph.neighborhood_overlap(edges.selectExpr("from_state AS src", "to_state AS dst"))


section(
    "Containment pairs (asymmetric prefix filter)",
    ("containment: candidates from the asymmetric prefix-filter "
     "equi-join — no CartesianProduct/BNLJ, no exchange carries "
     "raw document text (shingle SETS attach by id for the exact "
     "verify, the ngram_jaccard discipline)", all_of(no_cross, shuffles_exclude("text"))),
    build=lambda x: dedup.containment_pairs(x.docs, k=3, threshold=0.9),
)

section(
    "Embedding cluster-histogram PSI",
    ("cluster PSI: assignment is projection-only — no exchange "
     "carries an embedding/unit vector, only (bin, count) cells "
     "and the one-row totals", shuffles_exclude("embedding", "unit")),
    build=lambda x: similarity.cluster_histogram_psi(
        x.emb.filter(F.col("label") < 5), x.emb.filter(F.col("label") >= 5), x.cents
    ),
)

section(
    "Multi-touch attribution",
    ("attribution: hour-bucketed equi interval join (no "
     "CartesianProduct/BNLJ), exactly one Window pass, exchanges "
     "never carry the events payload columns (value/props pruned "
     "at the scan)",
     all_of(no_cross, count_exactly("Window", 1), shuffles_exclude("value", "props"))),
    build=lambda x: timeseries.attribution(x.ev),
)


@section(
    "MMR diverse re-ranking",
    ("MMR: the only Python stage is the per-query whole-group "
     "Arrow rerank over BOUNDED candidate lists (top-20/query) — "
     "no per-row Python, nothing corpus-sized enters the group "
     "exchange (candidates only)",
     all_of(has("FlatMapGroupsInPandas"), lacks("BatchEvalPython"))),
)
def _mmr(x):
    emb = x.emb
    units = similarity.with_unit_vec(emb).select(F.col("vec_id").alias("corpus_id"), "unit")
    cands = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") % 50 == 0), k=20)
    return similarity.mmr_rerank(cands.join(units, "corpus_id"), k=5)


def _sessions(ev):
    return timeseries.session_intervals(ev, "ts", "user_id", 1800, ["ts", "event_id"])


@section(
    "l-diversity / Benford / concurrency sweep / loop detection",
    ("l-diversity: the two-phase count-distinct shuffles only "
     "narrow (qi, sensitive) keys and counts — no payload column "
     "in any exchange", "ldiv", shuffles_exclude("value", "props")),
    ("benford: one narrow (digit) count exchange + the 9-row "
     "literal broadcast; zero Python; the raw value column never "
     "shuffles", "benford", all_of(shuffles_exclude("value"), no_python)),
    ("concurrency: the sweep shuffles interval ENDPOINTS only "
     "(session aggregates, 2 rows/session) — no event payload "
     "column in any exchange", "concurrency",
     shuffles_exclude("value", "props", "event_type")),
    ("loop detection: pure zero-shuffle zero-Python projection", "loops",
     all_of(no_exchange, no_python)),
)
def _ldiv_benford_concurrency_loops(x):
    ev = x.ev
    return {
        "benford": expectations.benford_deviation(ev, "value"),
        "ldiv": expectations.l_diversity_violations(
            ev.withColumn("day", F.date_trunc("day", F.col("ts"))),
            ["user_id", "day"], "event_type", 3,
        ),
        "concurrency": timeseries.concurrency_timeline(_sessions(ev)),
        "loops": textstats.loop_detection(x.docs),
    }


section(
    "Lang margin / distinct-n diversity / forecast backtest",
    ("lang margin: zero-shuffle zero-Python projection", "margin",
     all_of(no_exchange, no_python)),
    ("distinct-n diversity: grams shuffle as 16-byte md5 keys — "
     "raw text/gram strings never enter an exchange", "diversity",
     shuffles_exclude("text", "_g")),
    ("forecast backtest: ONE Window node serves every lag; "
     "exchanges carry spine cells and (key, lag) aggregates only", "backtest",
     all_of(count_exactly("Window", 1), shuffles_exclude("value", "props"))),
    build=lambda x: {
        "backtest": timeseries.seasonal_naive_backtest(x.ev, "ts", "event_type"),
        "margin": textstats.with_lang_margin(x.docs),
        "diversity": textstats.distinct_ngram_ratio(x.docs, ns=(1, 2)),
    },
)


@section(
    "Interval x interval overlap join",
    ("interval overlap join: bucketed equi hash join — no "
     "CartesianProduct/BroadcastNestedLoop anywhere in the plan", no_cross),
)
def _interval_overlap(x):
    ev = x.ev
    sessions = _sessions(ev).select(
        (F.col("user_id") * 100000 + F.col("sess_id")).alias("sid"), "start_ts", "end_ts",
    )
    hour = F.col("hour_id") * 3600
    anomalies = (
        timeseries.burst_hours(ev, "ts", "event_type", n_trail=24, z=3)
        .filter(F.col("anomaly").isNotNull())
        .select(
            F.concat_ws("#", "event_type", F.col("hour_id").cast("string")).alias("rid"),
            F.timestamp_seconds(hour).alias("r_start_ts"),
            F.timestamp_seconds(hour + 3599).alias("r_end_ts"),
        )
    )
    return joins.interval_overlap_join(sessions, anomalies, "sid", "rid")


section(
    "Turn-sequence integrity audit",
    ("sequence integrity: no Window/Sort node — pure counting", lacks("Window")),
    ("sequence integrity: exchanges carry group/idx ints only, "
     "never text", shuffles_exclude("text")),
    build=lambda x: expectations.sequence_integrity(x.turns),
)


@section(
    "End-biased join-size pre-flight",
    ("join-size planner: every exchange carries only key/count/"
     "aggregate-partial columns — never row payloads",
     shuffles_within("k", "na", "nb", "item", "cnt", "n_part", "count", "sum", "isEmpty",
                     "min", "max", "p", "_exact", "user_id")),
)
def _join_size(x):
    users = x.ev.select("user_id")
    return sketches.join_size_estimate(users, users, "user_id", hh_k=128)


section(
    "Cross-snapshot vocabulary drift",
    ("vocab drift: top-k via TakeOrderedAndProject (no global sort)",
     has("TakeOrderedAndProject")),
    ("vocab drift: no exchange carries document text", shuffles_exclude("text")),
    build=lambda x: textstats.vocab_drift(
        x.docs.filter(F.col("doc_id") % 7 != 0), x.docs.filter(F.col("doc_id") % 5 != 0),
        top_k=50,
    ),
)

# the waterfilling windows run over the |groups|-row stats table; the
# doc-level cumsum is keyed by group
section(
    "Token-budget waterfilling mixture",
    ("budget mix: no exchange carries document text", shuffles_exclude("text")),
    ("budget mix: the per-doc cumsum exchange is KEYED by group "
     "(data rows never funnel through a single partition; the "
     "only SinglePartition stages are the |groups|-row "
     "waterfilling scans)", shuffles_at_least(1, keyed="group")),
    build=lambda x: corpus.budget_mix(
        x.docs, {"en": 0.4, "de": 0.3, "zh": 0.3}, 5_000, mix_col="lang"
    ),
)


@section(
    "Dimensional cube + pivot",
    ("cube: single Expand node feeds one aggregate (no repeated "
     "scans per grouping set)", "cube",
     all_of(count_at_least("Expand", 1), count_at_most("FileScan", 1))),
    ("pivot: two narrow keyed exchanges (the partial (row, col) "
     "count, then the row-keyed pivot) — map-side combine before "
     "the pivot, no text in any exchange", "pivot",
     all_of(shuffles_exactly(2), shuffles_keyed("role"), shuffles_exclude("*text*"))),
)
def _cube_pivot(x):
    classes = ["error", "info", "request", "timing", "unknown"]
    return {
        "cube": aggregate.dimensional_rollup(x.parsed, ["turn_class", "role"]),
        "pivot": aggregate.pivot_matrix(x.parsed, "role", "turn_class", classes),
    }


# ---- the runner --------------------------------------------------------------


@contextlib.contextmanager
def _audit_scope(spark):
    """AQE off for the audit, and one cleanup path: AQE restored, the bucket
    database dropped and every temp dir removed, even when a builder raises.

    AQE leaves displayed plans as isFinalPlan=false (no WholeStageCodegen
    wrapper shown pre-execution); the operator choices under audit
    (broadcast, no cross product, two-phase agg) are decided before AQE."""
    aqe = spark.conf.get(AQE)
    spark.conf.set(AQE, "false")
    root = tempfile.mkdtemp(prefix="explain_audit_")
    try:
        yield root
    finally:
        spark.conf.set(AQE, aqe)
        spark.sql(f"DROP DATABASE IF EXISTS {BUCKET_DB} CASCADE")
        shutil.rmtree(root, ignore_errors=True)


def audit(spark, sf_dir: str):
    """Build every section's frames and evaluate its checks.  Returns
    ``(sections, failures)``: ``(title, plan text, note lines)`` per section
    and the FAIL lines.  Writes nothing."""
    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []
    with _audit_scope(spark) as root:
        x = Inputs(spark, sf_dir, root)
        for title, build, checks in SECTIONS:
            built = build(x)
            frames = built if isinstance(built, dict) else {None: built}
            plans = {k: f if isinstance(f, Plan) else Plan(f) for k, f in frames.items()}
            notes = []
            for name, *frame, pred in checks:
                plan = plans[frame[0] if frame else None]
                if pred(plan):
                    notes.append(f"PASS  {name}")
                else:
                    shuffled = [cols for _part, cols in plan.shuffles]
                    notes.append(f"FAIL  {name} — shuffles={shuffled}")
                    failures.append(notes[-1])
            sections.append((title, next(iter(plans.values())).text, notes))
    return sections, failures


def printable(text: str) -> str:
    """Escape control characters (plan literals such as a NUL separator)
    so EXPLAIN.md stays a text file."""
    return "".join(
        c if c.isprintable() or c == "\n" else c.encode("unicode_escape").decode("ascii")
        for c in text
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sections, failures = audit(get_spark("explain-audit"), sf_dir)
    md = ["# EXPLAIN audit — physical plans vs 100 TB design intents",
          "",
          f"Generated by `python tools/explain_audit.py {sf_dir}`.  Every note",
          "line is asserted by the tool (exit 1 on FAIL), not hand-written.",
          ""]
    for title, plan, notes in sections:
        print("\n".join(notes))
        trimmed = printable("\n".join(plan.splitlines()[:40]))
        md += [f"## {title}", "", *(f"- {n}" for n in notes), "", f"```\n{trimmed}\n```", ""]
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(md))

    print(f"\n{len(failures)} failures — EXPLAIN.md written")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
