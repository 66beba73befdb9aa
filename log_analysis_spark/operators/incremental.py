"""Incremental near-dup ingestion against a persisted MinHash-LSH index.

The batch operators in ``dedup.py`` answer "dedup THIS corpus"; at 100 TB
the question a training-data pipeline actually asks daily is "dedup this
NEW increment against everything already accepted" — and re-running the
batch job over corpus+increment re-shuffles the whole corpus for a 0.1%
delta.  Rebuild of the reference's accumulate-then-process loop
(download_and_merge.sh:7-12 re-merges the full log set every run) as
incremental state, the way Spark-side dedup should work at scale:

State = two small tables, both O(corpus) in ROWS but ~256 bytes/doc
(vs KBs of text), so the 100 TB corpus carries a ~25 GB index:

- ``sig_store(id, sig: array<long>)`` — the MinHash signature per
  accepted doc (``n_hashes`` 64-bit minima).
- ``band_index(id, band, bkey)`` — the LSH band keys derived from the
  signature (``dedup.bands_from_sig`` — the SAME derivation the batch
  path uses, so batch and incremental bucket identically).

Ingest of a new batch then touches corpus TEXT zero times:

1. within-batch near-dup dedup (``dedup.minhash_lsh_pairs`` + connected
   components — exact shingle-Jaccard verify, the batch text is at hand);
2. band keys of the surviving reps equi-join ``band_index`` → candidate
   (new, old) pairs — a plain shuffle hash join on (band, bkey), never a
   cross product, and at scale the index table is bucketed by (band,
   bkey) so only the (tiny) batch side shuffles (sources/bucketed.py);
3. candidates verify by SIGNATURE AGREEMENT: the fraction of equal
   minhash components is an unbiased estimator of Jaccard (Broder 1997),
   so ``est_jaccard >= threshold`` needs only the two 32-long arrays —
   no corpus re-scan, no shingle storage.  (The batch side's exact
   verify in step 1 keeps the within-batch pairs exact; the cross-corpus
   check accepts the standard estimator noise of ~1/sqrt(n_hashes).)
4. accepted = batch reps with no corpus match; their (sig, band) rows
   are appended to the state tables for the next increment.

Determinism: everything is hash-derived from text — ingesting the same
batch twice produces identical signatures, so a crashed-and-rerun ingest
rejects its own first attempt's rows as exact matches (est_jaccard = 1.0)
rather than duplicating them: the state append is idempotent-by-content.
"""

from __future__ import annotations

from dataclasses import dataclass, fields
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_analysis_spark.operators import dedup
from log_analysis_spark.sources.sinks import write_counted


@dataclass
class IngestResult:
    accepted: DataFrame       # (id) batch docs to admit into the corpus
    rejected: DataFrame       # (id, matched_id, est_jaccard | jaccard, why)
    new_sig_rows: DataFrame   # (id, sig) to append to sig_store
    new_band_rows: DataFrame  # (id, band, bkey) to append to band_index


def sig_schema(hash_impl: str = "xxhash64") -> str:
    """Schema of the persisted signature store, derived from the hash
    implementation: xxhash64 signatures are 64-bit minima; md5 signatures
    are hex strings (their min is lexicographic).  An empty-state frame
    built with the wrong element type would silently poison any later
    union/comparison."""
    _check_hash_impl(hash_impl)
    return f"id string, sig array<{'string' if hash_impl == 'md5' else 'bigint'}>"


def band_schema(hash_impl: str = "xxhash64") -> str:
    """Schema of the persisted band index (bkey = md5 hex string or
    xxhash64 long, matching ``dedup.bands_from_sig``)."""
    _check_hash_impl(hash_impl)
    return f"id string, band int, bkey {'string' if hash_impl == 'md5' else 'bigint'}"


def _check_hash_impl(hash_impl: str) -> None:
    if hash_impl not in ("xxhash64", "md5"):
        # the numpy banding path derives band keys by FNV-folding raw minima,
        # not from a storable signature — its keys can't be reproduced from
        # sig_store, so incremental state would silently never collide
        raise ValueError(
            f"incremental ingest needs sig-derived bands (xxhash64|md5), got {hash_impl!r}"
        )


# xxhash64 (production default) shapes, kept as constants for callers/tests
SIG_SCHEMA = sig_schema()
BAND_SCHEMA = band_schema()

# LSH knobs that the persisted state is a pure function of: ingesting with a
# different value for ANY of these against existing state makes band keys
# never collide / sig agreement garbage — cross-corpus duplicates would all
# be silently accepted.  The params sidecar pins them at first ingest.
STATE_PARAM_KEYS = ("hash_impl", "shingle_k", "n_hashes", "bands")


def ensure_state_params(
    state_dir: str, *, keys: tuple = STATE_PARAM_KEYS, **params
) -> dict:
    """Pin the LSH parameters the state was built with (``_params.json`` in
    the state dir): first call writes the sidecar, later calls RAISE on any
    mismatch of ``keys`` (default: the text-minhash ``STATE_PARAM_KEYS``;
    the embedding twin passes its own) instead of silently accepting every
    duplicate.  Extra keys (e.g. bucketing layout) ride along un-validated.
    Returns the effective (stored) params."""
    import json
    import os

    path = f"{state_dir}/_params.json"
    if not os.path.exists(path):
        os.makedirs(state_dir, exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(params, f, sort_keys=True)
        os.replace(tmp, path)
        return params
    with open(path) as f:
        stored = json.load(f)
    mismatch = {
        k: (stored.get(k), params[k])
        for k in keys
        if k in params and stored.get(k) != params[k]
    }
    if mismatch:
        raise ValueError(
            f"LSH params differ from the state at {state_dir!r} "
            f"(stored vs requested): {mismatch}; state built with one "
            "parameter set can only be probed with the same set"
        )
    return stored


def _has_data_files(path: str) -> bool:
    import os

    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


@dataclass(frozen=True)
class StateTableSpec:
    """One persisted state table: its subdir/catalog name, DDL schema, the
    natural column projection of tail reads, and the bucket/sort layout its
    compacted form is clustered by (the probe join's keys)."""

    name: str                      # subdir under state_dir + catalog prefix
    schema: str                    # e.g. "id string, sig array<bigint>"
    cols: tuple                    # natural columns, e.g. ("id", "sig")
    bucket_cols: tuple             # compacted CLUSTERED BY keys
    sort_cols: tuple               # within-bucket sort


def text_state_specs(hash_impl: str = "xxhash64") -> tuple:
    """The MinHash state's two tables (see module docstring)."""
    return (
        StateTableSpec(
            "sig_store", sig_schema(hash_impl), ("id", "sig"), ("id",), ("id",)
        ),
        StateTableSpec(
            "band_index", band_schema(hash_impl), ("id", "band", "bkey"),
            ("band", "bkey"), ("band", "bkey"),
        ),
    )


def load_state_tables(
    spark, state_dir: str, specs: tuple, before_ingest_id: int | None = None
) -> list:
    """Load each spec'd table from ``{state_dir}/{spec.name}/ingest_id=<n>/``
    plus the optional compacted bucketed layout (see ``compact_state_tables``):
    compacted tables cover ingests ``< compacted_upto``; plain partitions
    cover the tail.

    ``before_ingest_id`` filters to COMPLETED increments only (partition
    pruning on the hive column): a crashed attempt's partial
    ``ingest_id=<current>`` rows must not be read back as state, or the
    retry would reject its own first attempt's docs as corpus dups and lose
    them entirely.  Missing directories (first increment) yield empty
    frames with the canonical schemas.

    Emptiness is decided by an explicit data-file walk, NOT by swallowing
    read errors: a corrupt file / permission error / transient FS failure
    must fail the ingest loudly — treating it as "first increment" would
    silently admit every duplicate and permanently pollute the state.
    """
    comp = _read_compaction_marker(state_dir)
    comp_tables = None
    comp_upto = 0
    if comp is not None:
        names = _compacted_ddl(spark, state_dir, comp["version"],
                               comp["n_buckets"], specs)
        comp_tables = [spark.table(n) for n in names]
        comp_upto = comp["upto"]

    out = []
    for i, spec in enumerate(specs):
        path = f"{state_dir}/{spec.name}"
        base = comp_tables[i] if comp_tables is not None else None
        if not _has_data_files(path):
            empty = spark.createDataFrame([], spec.schema)
            out.append(base if base is not None else empty)
            continue
        tail = spark.read.parquet(path).filter(F.col("ingest_id") >= comp_upto)
        if before_ingest_id is not None:
            tail = tail.filter(F.col("ingest_id") < before_ingest_id)
        tail = tail.select(*spec.cols)
        out.append(tail if base is None else base.unionByName(tail))
    return out


def load_state(
    spark,
    state_dir: str,
    before_ingest_id: int | None = None,
    hash_impl: str = "xxhash64",
):
    """(sig_store, band_index) for the text-minhash state — see
    ``load_state_tables`` for the layout and failure semantics."""
    comp = _read_compaction_marker(state_dir)
    if comp is not None and comp.get("hash_impl", hash_impl) != hash_impl:
        # the compacted DDL's column types are a function of the hash
        # family — re-registering them under the wrong one in a fresh
        # session would silently misread the state
        raise ValueError(
            f"state at {state_dir!r} was compacted with "
            f"hash_impl={comp['hash_impl']!r}, not {hash_impl!r}"
        )
    return tuple(load_state_tables(
        spark, state_dir, text_state_specs(hash_impl), before_ingest_id
    ))


def _state_db(state_dir: str) -> str:
    """Deterministic catalog database name for a state directory — the
    bucketed (compacted) tables live in the catalog because ``bucketBy``
    layout is catalog metadata; the name is content-addressed so two jobs
    pointed at different state dirs never collide."""
    import hashlib

    return "dedup_state_" + hashlib.md5(state_dir.encode()).hexdigest()[:10]


def _read_compaction_marker(state_dir: str) -> dict | None:
    import json
    import os

    path = f"{state_dir}/_compaction.json"
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _compacted_ddl(
    spark, state_dir: str, version: int, n_buckets: int, specs: tuple
) -> list:
    """Idempotently (re)register the compacted bucketed tables in the
    session catalog and return their names.  A fresh session (each
    spark-submit boots its own metastore) knows nothing about tables a
    previous session wrote; the bucket files + this DDL are the durable
    contract — re-issuing CREATE TABLE over the existing location restores
    the bucket metadata that makes the state-side probe shuffle-free."""
    db = _state_db(state_dir)
    wh = f"{state_dir}/warehouse"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}'")
    names = []
    for spec in specs:
        t = f"{spec.name}_c{version}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.{t} ({spec.schema}) "
            f"USING PARQUET CLUSTERED BY ({', '.join(spec.bucket_cols)}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{wh}/{t}'"
        )
        names.append(f"{db}.{t}")
    return names


def compact_state_tables(
    spark,
    state_dir: str,
    upto_ingest_id: int,
    specs: tuple,
    n_buckets: int = 16,
    marker_extra: dict | None = None,
    prune: bool = True,
) -> dict:
    """Fold the per-ingest state partitions into ONE bucketed layout per
    spec'd table, clustered by that table's probe-join keys, so the
    candidate probe reads the catalog layout and exchanges ONLY the small
    batch side (machine-asserted in tests/test_incremental.py).

    Without this, a year of daily ingests leaves hundreds of small
    ``ingest_id=<n>`` files that every probe re-reads and re-shuffles —
    the bucketed layout is written once per compaction and amortizes
    across all subsequent increments.

    Crash safety: the new tables are written under VERSIONED names
    (``*_c{upto}``) while the previous version stays live; the marker file
    (``_compaction.json``) flips atomically (tmp + rename) only after all
    writes committed.  A crash mid-compaction leaves the old marker
    pointing at intact old state.  ``prune`` (after the marker commit)
    removes the folded ``ingest_id`` partitions and the superseded
    compacted version — pure hygiene; loads already ignore both.

    ``marker_extra`` rides along in the marker and is VALIDATED against any
    previous marker (e.g. hash_impl for text, kind for embeddings) — a
    compaction under different state-defining knobs must refuse, not
    silently mix incompatible layouts.

    Returns the marker dict ({"upto", "version", "n_buckets", **extra}).
    """
    import glob
    import json
    import os
    import shutil

    from log_analysis_spark.sources import bucketed as buck

    marker_extra = dict(marker_extra or {})
    prev = _read_compaction_marker(state_dir)
    if prev is not None and prev["upto"] >= upto_ingest_id:
        return prev
    if prev is not None:
        for k, v in marker_extra.items():
            if k in prev and prev[k] != v:
                raise ValueError(
                    f"compacted state at {state_dir!r} was built with "
                    f"{k}={prev[k]!r}, not {v!r}"
                )
    # full state below the new watermark = previous compacted + tail
    dfs = load_state_tables(spark, state_dir, specs, upto_ingest_id)

    db = _state_db(state_dir)
    wh = f"{state_dir}/warehouse"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{wh}'")
    for spec, df in zip(specs, dfs):
        buck.write_bucketed(
            df, f"{db}.{spec.name}_c{upto_ingest_id}",
            list(spec.bucket_cols), n_buckets, sort_cols=list(spec.sort_cols),
        )
    marker = {
        "upto": upto_ingest_id,
        "version": upto_ingest_id,
        "n_buckets": n_buckets,
        **marker_extra,
    }
    tmp = f"{state_dir}/_compaction.json.tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, f"{state_dir}/_compaction.json")

    if prune:
        for spec in specs:
            for d in glob.glob(f"{state_dir}/{spec.name}/ingest_id=*"):
                n = d.rsplit("=", 1)[1]
                if n.isdigit() and int(n) < upto_ingest_id:
                    shutil.rmtree(d, ignore_errors=True)
        if prev is not None:
            v = prev["version"]
            for spec in specs:
                spark.sql(f"DROP TABLE IF EXISTS {db}.{spec.name}_c{v}")
                shutil.rmtree(f"{wh}/{spec.name}_c{v}", ignore_errors=True)
    return marker


def compact_state(
    spark,
    state_dir: str,
    upto_ingest_id: int,
    n_buckets: int = 16,
    hash_impl: str = "xxhash64",
    prune: bool = True,
) -> dict:
    """Text-minhash compaction: band_index clustered by (band, bkey) — the
    probe join's keys — and sig_store by id (the verify join's key).  See
    ``compact_state_tables`` for layout, crash safety, and pruning."""
    return compact_state_tables(
        spark, state_dir, upto_ingest_id, text_state_specs(hash_impl),
        n_buckets, {"hash_impl": hash_impl}, prune,
    )


def sig_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """(id, sig) MinHash signature table — the persisted per-doc state."""
    return dedup.shingled(df, text_col, id_col, k).select(
        "id", dedup.minhash_signature(F.col("sh"), n_hashes, hash_impl).alias("sig")
    )


def sig_agreement(sig_a: F.Column, sig_b: F.Column, n_hashes: int) -> F.Column:
    """Fraction of equal minhash components — the Broder Jaccard estimator.
    Pure JVM higher-order fns over two fixed 32-long arrays per CANDIDATE
    pair only (candidates are band-collision survivors, a vanishing
    fraction of the corpus), so interpreted-HOF cost is bounded."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double") / F.lit(
        float(n_hashes)
    )


def _resolve_local(pairs_rows: list, score_key: str = "jaccard") -> dict:
    """Union-find with min-id representatives over a collected pair list.
    Returns {loser_id: (rep_id, score-or-None)} — only non-reps appear.
    ``score_key`` names the pair score column ("jaccard" for text minhash,
    "cosine" for the embedding twin)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in pairs_rows:
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    direct = {(r["id_a"], r["id_b"]): r[score_key] for r in pairs_rows}
    out = {}
    for x in set(parent):
        rep = find(x)
        if x != rep:
            out[x] = (rep, direct.get((rep, x)))
    return out


def _within_batch(
    batch: DataFrame,
    intra_pairs: DataFrame,
    id_col: str,
    id_type: T.DataType,
    score: str,
    score_out: str,
    local_pairs_cap: int,
) -> tuple[DataFrame, DataFrame]:
    """Resolve one increment's verified pairs ``(id_a, id_b, <score>)``
    into (rejected ``(id, matched_id, <score_out>, why)``, representatives).

    An increment's pair graph is tiny (pairs, not docs), so up to
    ``local_pairs_cap`` edges it resolves driver-side by union-find — one
    collect instead of the distributed CC loop's per-iteration join and
    convergence action (~5 s fixed latency on a 500-doc increment).  The
    iterative CC is the over-cap fallback, for when the batch IS a corpus."""
    intra_pairs = intra_pairs.persist()
    if intra_pairs.count() <= local_pairs_cap:
        losers = _resolve_local(intra_pairs.collect(), score_key=score)
        intra_pairs.unpersist()  # resolved driver-side; nothing references it
        loser_schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("matched_id", id_type),
                T.StructField(score_out, T.DoubleType()),
            ]
        )
        rejected = batch.sparkSession.createDataFrame(
            [(i, r, j) for i, (r, j) in losers.items()], loser_schema
        ).withColumn("why", F.lit("within_batch"))
        reps = batch.join(
            F.broadcast(rejected.select(F.col("id").alias(id_col))),
            id_col,
            "left_anti",
        )
        return rejected, reps
    groups = dedup.neardup_groups(batch.select(F.col(id_col).alias("id")), intra_pairs)
    rejected = (
        groups.filter(F.col("id") != F.col("rep_id"))
        .join(
            intra_pairs.select(
                F.col("id_a").alias("rep_id"), F.col("id_b").alias("id"), score
            ),
            ["id", "rep_id"],
            "left",
        )
        .select(
            "id",
            F.col("rep_id").alias("matched_id"),
            F.col(score).alias(score_out),
            F.lit("within_batch").alias("why"),
        )
    )
    return rejected, dedup.drop_near_duplicates(batch, groups, id_col)


def _band_candidates(batch_bands: DataFrame, band_index: DataFrame) -> DataFrame:
    """Distinct (new_id, old_id) pairs whose band keys collide: the batch
    bands equi-join the index on (band, bkey) — never a cross product."""
    return (
        batch_bands.alias("n")
        .join(
            band_index.alias("o"),
            on=[F.col("n.band") == F.col("o.band"), F.col("n.bkey") == F.col("o.bkey")],
        )
        .select(F.col("n.id").alias("new_id"), F.col("o.id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )


def _best_corpus_match(verified: DataFrame, score: str) -> DataFrame:
    """One cross-corpus reject per new id: its best-scoring corpus match."""
    return (
        verified.groupBy("new_id")
        .agg(
            F.max_by("old_id", score).alias("matched_id"),
            F.max(score).alias(score),
        )
        .select(
            F.col("new_id").alias("id"),
            "matched_id",
            score,
            F.lit("cross_corpus").alias("why"),
        )
    )


def ingest_batch(
    batch: DataFrame,
    sig_store: DataFrame,
    band_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_impl: str = "xxhash64",
    local_pairs_cap: int = 1_000_000,
) -> IngestResult:
    """Dedup ``batch`` within itself and against the persisted index.

    ``sig_store``/``band_index`` may be empty DataFrames with the right
    schema (first increment).  Returned frames are lazy; the caller
    persists/writes them (see jobs/run_incremental_dedup.py).

    Docs with fewer than ``k`` tokens cannot shingle: they are ACCEPTED
    (never near-dup-rejected) and contribute no state rows — identical to
    the batch path's behavior (``dedup.shingled`` filters them), so batch
    and incremental agree on them; gate such docs upstream with a
    min-token quality filter if they shouldn't enter the corpus at all.
    """
    _check_hash_impl(hash_impl)
    # a state built with the OTHER hash family would never collide with this
    # batch's band keys — every cross-corpus duplicate silently accepted;
    # the element type is the cheap structural tell
    want_elem = T.StringType() if hash_impl == "md5" else T.LongType()
    got_elem = sig_store.schema["sig"].dataType.elementType
    if got_elem != want_elem:
        raise ValueError(
            f"sig_store element type {got_elem.simpleString()} does not match "
            f"hash_impl={hash_impl!r} (expected {want_elem.simpleString()}); "
            "state and ingest must use the same hash family"
        )
    # -- 1. within-batch: exact-verify near-dup dedup (text is at hand) ----
    intra_rejected, reps = _within_batch(
        batch,
        dedup.minhash_lsh_pairs(
            batch, text_col, id_col, k, n_hashes, bands, threshold, hash_impl
        ),
        id_col, batch.schema[id_col].dataType, "jaccard", "est_jaccard",
        local_pairs_cap,
    )

    # -- 2. cross-corpus candidates: batch bands equi-join the index -------
    batch_sigs = sig_table(reps, text_col, id_col, k, n_hashes, hash_impl)
    batch_bands = dedup.bands_from_sig(batch_sigs, n_hashes, bands, hash_impl)
    cand = _band_candidates(batch_bands, band_index)

    # -- 3. signature-agreement verify (no corpus text touched) ------------
    verified = (
        cand.join(batch_sigs.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_n")), "new_id")
        .join(sig_store.select(F.col("id").alias("old_id"), F.col("sig").alias("sig_o")), "old_id")
        .withColumn("est_jaccard", sig_agreement(F.col("sig_n"), F.col("sig_o"), n_hashes))
        .filter(F.col("est_jaccard") >= threshold)
    )
    # one row per rejected new doc: its best corpus match
    cross_rejected = _best_corpus_match(verified, "est_jaccard")

    # -- 4. accepted = reps minus corpus matches; state rows to append -----
    dup_ids = cross_rejected.select("id")
    accepted = reps.select(F.col(id_col).alias("id")).join(dup_ids, "id", "left_anti")
    new_sig_rows = batch_sigs.join(dup_ids, "id", "left_anti")
    new_band_rows = dedup.bands_from_sig(new_sig_rows, n_hashes, bands, hash_impl)

    return IngestResult(
        accepted=accepted,
        rejected=intra_rejected.unionByName(cross_rejected),
        new_sig_rows=new_sig_rows,
        new_band_rows=new_band_rows,
    )


@dataclass(frozen=True)
class IncrementKind:
    """One kind of incremental near-dup state, as ``commit_increment`` needs
    it.  ``ingest(batch, *state, id_col=...)`` returns a result whose fields
    are the accepted ids, the rejects, then each spec's new rows."""

    specs: tuple        # the persisted state tables (StateTableSpec)
    id_type: str        # corpus-wide id type every batch is cast to
    params: dict        # knobs the state is a pure function of (_params.json)
    marker: dict        # compaction-marker fields that name the kind
    load: Callable      # (spark, state_dir, before_ingest_id) -> state frames
    ingest: Callable


def text_kind(
    threshold: float = 0.5, text_col: str = "text", shingle_k: int = 3,
    n_hashes: int = 32, bands: int = 8, hash_impl: str = "xxhash64",
) -> IncrementKind:
    """The MinHash text state (``ingest_batch``) as an increment kind."""
    return IncrementKind(
        specs=text_state_specs(hash_impl),
        id_type="string",
        params=dict(hash_impl=hash_impl, shingle_k=shingle_k,
                    n_hashes=n_hashes, bands=bands),
        marker={"hash_impl": hash_impl},
        load=partial(load_state, hash_impl=hash_impl),
        ingest=partial(
            ingest_batch, text_col=text_col, k=shingle_k, n_hashes=n_hashes,
            bands=bands, threshold=threshold, hash_impl=hash_impl,
        ),
    )


def _increment_dir(state_dir: str, table: str, ingest_id: int) -> str:
    return f"{state_dir}/{table}/ingest_id={ingest_id}"


def commit_increment(
    kind: IncrementKind, batch: DataFrame, state_dir: str, ingest_id: int,
    id_col: str,
) -> tuple[dict, int]:
    """Ingest ``batch`` as increment ``ingest_id`` and commit it: the one
    increment path of the jobs (ingest id = manifest position) and the
    streams (ingest id = micro-batch id).

    Pins ``kind.params`` (a drift raises before anything is written), casts
    the id to ``kind.id_type``, loads the state below ``ingest_id``,
    ingests, and overwrites ``accepted/``, ``rejects/`` and each spec's new
    rows under ``ingest_id=<n>``, so a replay rewrites exactly its own
    directories.  Returns the rows each write observed and the number of
    cross-corpus rejects."""
    ensure_state_params(state_dir, keys=tuple(kind.params), **kind.params)
    batch = batch.withColumn(id_col, F.col(id_col).cast(kind.id_type))
    state = kind.load(batch.sparkSession, state_dir, ingest_id)
    res = kind.ingest(batch, *state, id_col=id_col)
    accepted, rejected, *new_rows = (getattr(res, f.name) for f in fields(res))

    def write(table, df, *metrics):
        return write_counted(df, _increment_dir(state_dir, table, ingest_id), *metrics)

    rows = {
        "accepted": write(
            "accepted", batch.join(accepted.withColumnRenamed("id", id_col), id_col)
        )["rows"],
    }
    rej = write(
        "rejects", rejected,
        F.count_if(F.col("why") == "cross_corpus").alias("cross_corpus"),
    )
    rows["rejects"] = rej["rows"]
    for spec, df in zip(kind.specs, new_rows):
        rows[spec.name] = write(spec.name, df)["rows"]
    return rows, rej["cross_corpus"]


def job_parser(what: str, id_col: str):
    """The command line both incremental jobs share; each adds its knobs."""
    from log_analysis_spark.plans import job

    ap = job.parser()
    ap.add_argument("--batch", help=f"new {what} batch (parquet); "
                                    "required unless --compact-now")
    ap.add_argument("--state", required=True, help="state directory")
    ap.add_argument("--id-col", default=id_col)
    ap.add_argument(
        "--compact-every", type=int, default=8,
        help="fold the per-ingest state partitions into ONE bucketed layout "
             "whenever this many uncompacted increments accumulate "
             "(0 disables auto-compaction)",
    )
    ap.add_argument(
        "--n-buckets", type=int, default=16,
        help="bucket count of the compacted state tables (band_index by "
             "(band,bkey), the vector/signature store by id)",
    )
    ap.add_argument(
        "--compact-now", action="store_true",
        help="compact all completed increments and exit (no batch ingested)",
    )
    return ap


def ingest_job(
    spark, kind: IncrementKind, state_dir: str, batch: DataFrame, id_col: str,
    fingerprint: str, compact_every: int, n_buckets: int,
) -> dict:
    """One run of an incremental dedup job, a manifest stage keyed on
    ``fingerprint``; returns its JSON result.  A batch already ingested
    resumes from its record; a new one commits as the next increment, is
    recorded only after all its writes completed, then auto-compacts.  A
    batch's accepted and rejected rows partition it (ids are the
    corpus-wide key), so ``n_batch`` is their sum."""
    import os

    from log_analysis_spark.plans.manifest import Manifest, StageRecord

    manifest = Manifest(f"{state_dir}/_manifest.jsonl")
    # lookup_any, not latest-wins: each ingest owns its own output dir, so a
    # historic record stays valid — re-submitting increment 1 after
    # increment 5 completed must resume, not re-ingest it as increment 6
    prior = manifest.lookup_any("ingest", fingerprint)
    if prior is not None and os.path.exists(prior["output_path"]):
        return {**prior["metrics"], "resumed": True,
                "accepted_path": prior["output_path"]}
    # next ingest_id = count of completed ingests (manifest is append-only;
    # a crashed attempt left no record, so its id is reused and its partial
    # subdirectories are overwritten)
    ingest_id = len(manifest.completed("ingest"))
    rows, n_cross = commit_increment(kind, batch, state_dir, ingest_id, id_col)
    metrics = {
        "ingest_id": ingest_id,
        "n_batch": rows["accepted"] + rows["rejects"],
        "n_accepted": rows["accepted"],
        "n_rejected_within_batch": rows["rejects"] - n_cross,
        "n_rejected_cross_corpus": n_cross,
    }
    accepted_path = _increment_dir(state_dir, "accepted", ingest_id)
    manifest.record(StageRecord(
        stage="ingest", input_fingerprint=fingerprint, output_path=accepted_path,
        rows=rows["accepted"], n_partitions=len(rows), partition_rows=rows,
        metrics=metrics,
    ))
    # auto-compaction AFTER the manifest commit: a crash inside the
    # compaction never loses the ingest (versioned tables + atomic marker;
    # see compact_state_tables)
    comp = _read_compaction_marker(state_dir)
    if compact_every and ingest_id + 1 - (comp["upto"] if comp else 0) >= compact_every:
        marker = compact_state_tables(
            spark, state_dir, ingest_id + 1, kind.specs, n_buckets, kind.marker
        )
        metrics["compacted_upto"] = marker["upto"]
    return {**metrics, "accepted_path": accepted_path}


def compact_job(spark, kind: IncrementKind, state_dir: str, n_buckets: int) -> dict:
    """``--compact-now``: fold every completed increment of the kind's
    state into the bucketed layout; returns the job's JSON result."""
    from log_analysis_spark.plans.manifest import Manifest

    upto = len(Manifest(f"{state_dir}/_manifest.jsonl").completed("ingest"))
    marker = compact_state_tables(
        spark, state_dir, upto, kind.specs, n_buckets, kind.marker
    )
    return {"compacted": True, **marker}


@dataclass
class ExactIngestResult:
    accepted: DataFrame       # batch rows admitted into the corpus
    rejected: DataFrame       # (id, matched_id, why) exact duplicates
    new_key_rows: DataFrame   # (khash, klen, id) to append to key_store


def exact_key_schema(id_type: str = "string") -> str:
    """Schema of the persisted exact-dedup key store: the same
    (md5, length) key `dedup.exact_dedup` groups by — 24 bytes + id per
    distinct document ever admitted."""
    return f"khash string, klen long, id {id_type}"


def exact_state_specs(id_type: str = "string") -> tuple:
    """Single-table state for incremental EXACT dedup; bucket/sort by
    the hash so the compacted probe join is shuffle-free on the state
    side (same layout discipline as the band index)."""
    return (
        StateTableSpec(
            "exact_keys",
            exact_key_schema(id_type),
            ("khash", "klen", "id"),
            ("khash",),
            ("khash", "klen"),
        ),
    )


def ingest_exact_batch(
    batch: DataFrame,
    key_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> ExactIngestResult:
    """Incremental EXACT dedup: admit only batch docs whose
    (md5(text), length(text)) key is new — both within the batch
    (keep-first by lowest id, `dedup.exact_dedup` semantics) and against
    every previously-admitted document's persisted key.

    The cheap front gate of the incremental pipeline: a re-crawled or
    re-submitted byte-identical document never reaches the MinHash
    probe, and the state is 24 bytes + id per distinct doc — smaller
    than the signature store by ~10x.

    Scale shape: document text never enters an exchange — the batch
    projects to (key, id) before any shuffle; within-batch keep-first is
    one key aggregate; the cross-corpus probe is one equi-join against
    the key store (shuffle-free on the state side under the bucketed
    compacted layout, `exact_state_specs`).  Exactness needs no verify
    step: md5+length collisions aside (the documented 2^-128 class),
    key equality IS document equality."""
    key = batch.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("khash"),
        F.length(F.col(text_col)).cast("long").alias("klen"),
    )
    keeper = key.groupBy("khash", "klen").agg(F.min("id").alias("_keep"))
    within = key.join(keeper, ["khash", "klen"]).withColumnRenamed(
        "_keep", "matched_id"
    )
    intra_rejected = (
        within.filter(F.col("id") != F.col("matched_id"))
        .select("id", "matched_id", F.lit("within_batch").alias("why"))
    )
    firsts = within.filter(F.col("id") == F.col("matched_id"))
    hit = firsts.join(
        key_store.select(
            "khash", "klen", F.col("id").alias("_old_id")
        ),
        ["khash", "klen"],
    )
    cross_rejected = hit.select(
        "id", F.col("_old_id").alias("matched_id"),
        F.lit("cross_corpus").alias("why"),
    )
    survivors = firsts.join(
        key_store.select("khash", "klen"), ["khash", "klen"], "left_anti"
    )
    accepted = batch.join(
        survivors.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    new_key_rows = survivors.select("khash", "klen", "id")
    return ExactIngestResult(
        accepted=accepted,
        rejected=intra_rejected.unionByName(cross_rejected),
        new_key_rows=new_key_rows,
    )
