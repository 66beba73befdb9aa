"""Deduplication operators over the ``documents`` table.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash (vectorized Arrow UDF), n-gram Jaccard, and embedding-cosine
near-dup (operators/similarity.py supplies the vector math).

Scale design: every near-dup method is *blocked* — candidate pairs only
form inside a bounded bucket (LSH band bucket, hash-mod block), never a
full cross join; the verify step runs only on candidates.  At 100 TB the
bucket-join is a plain shuffle hash join on the band key.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_analysis_spark.operators.textstats import tokens_col


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per distinct text, count the group.

    Groups by (md5(text), length(text)) rather than the text column itself:
    the information content of an exact-dup key is 16 bytes, and grouping by
    the raw text makes the shuffle key — and payload — the entire document
    (at 100 TB that is a full-corpus text shuffle).  The length column is
    cheap collision insurance: an md5 collision would additionally need
    equal lengths to merge two distinct texts.  Output is identical to a
    ``groupBy(text)`` (the oracle mirrors the same keys)."""
    return (
        df.groupBy(
            F.md5(F.col(text_col)).alias("_th"),
            F.length(F.col(text_col)).alias("_tlen"),
        )
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def softdedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SoftDedup (He et al. 2024, "SoftDedup: an Efficient Data Reweighting
    Method for Speeding Up Language Model Pretraining"): instead of DROPPING
    exact duplicates, keep every copy but down-weight it — each document's
    sampling weight is 1/n_copies of its exact-dup group, so the group as a
    whole contributes one document's worth of gradient mass while lexical
    diversity inside the group is preserved.

    Returns ``(id, n_copies, weight_micro)`` with
    ``weight_micro = 1_000_000 div n_copies`` — exact integer micro-units,
    so the oracle replays it bit-for-bit (unique docs get 1_000_000).

    Scale shape: same key discipline as ``exact_dedup`` — the group key is
    ``(md5(text), length(text))``, 16 bytes + a long, so neither the count
    aggregate nor the attach join ever shuffles document text; both sides
    of the join are keyed by the same narrow hash, and the count side
    aggregates map-side first."""
    th = F.md5(F.col(text_col)).alias("_th")
    tlen = F.length(F.col(text_col)).alias("_tlen")
    counts = (
        df.groupBy(th, tlen)
        .agg(F.count("*").cast("long").alias("n_copies"))
    )
    keyed = df.select(F.col(id_col), th, tlen)
    return (
        keyed.join(counts, ["_th", "_tlen"])
        .select(
            id_col,
            "n_copies",
            F.expr("CAST(1000000 DIV n_copies AS BIGINT)").alias("weight_micro"),
        )
    )


def word_shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct k-word shingles (n-grams) of the tokenized text — built with
    higher-order array functions, all JVM-side.

    NOTE: prefer ``shingled(df, ...)`` on hot paths.  This single-Column form
    embeds the tokenizer expression inside the transform lambda, and lambdas
    are interpreted (not codegen'd), so the trim+split re-evaluates per
    element — measured ~15× slower than shingling a materialized tokens
    column."""
    return shingles_from_tokens(tokens_col(text_col), k)


def shingles_from_tokens(toks: F.Column, k: int, distinct: bool = True) -> F.Column:
    """Space-joined word k-grams of a token array.  ``distinct=False`` keeps
    every occurrence (corpus.repetition_stats needs multiplicities); the
    default de-dups for shingle-set similarity.  Shared guard: sequence(1,0)
    DESCENDS and ANSI element_at throws out-of-bounds, so docs with < k
    tokens short-circuit to an empty array.

    ``toks`` is LET-BOUND via ``transform(array(toks), t -> body)[0]``
    before the per-gram lambda references it: a Catalyst higher-order
    lambda re-evaluates any closed-over subtree once PER REFERENCE, so a
    caller passing the raw tokenize-and-filter expression (rather than a
    pre-materialized column, as ``shingled`` does) was paying k
    re-tokenizations of the whole document per gram — O(len·grams·k).
    Measured 17.7 s -> 1.6 s for the 5-gram explode over the sf0.1 corpus
    (the same trap winnowing hit; see that fix's notes)."""

    def build(t: F.Column) -> F.Column:
        n = F.greatest(F.size(t) - F.lit(k - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, (i + j).cast("int")) for j in range(k)]
            ),
        )
        if distinct:
            grams = F.array_distinct(grams)
        return F.when(n > 0, grams).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(toks), build), 0)


def shingled(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sh) with the tokens array materialized in its own projection, so
    the lambda in ``shingles_from_tokens`` references a bound attribute (one
    tokenize per row) instead of re-splitting per element.  Catalyst keeps
    the two projects separate because the split is non-cheap and
    multi-referenced (CollapseProject's cost guard).

    Filtering happens on ``size(_toks) >= k`` (≡ ``size(sh) > 0``) BEFORE the
    shingle projection: a post-hoc ``filter(size(sh) > 0)`` gets predicate-
    pushed below both projects, re-inlining the whole shingle pipeline into
    an interpreted Filter — measured 12s → 0.4s on 5k docs."""
    return (
        df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select("id", shingles_from_tokens(F.col("_toks"), k).alias("sh"))
    )


def minhash_signature(
    shingles: F.Column, n_hashes: int = 32, hash_impl: str = "xxhash64"
) -> F.Column:
    """MinHash signature: for seed i, min over shingles of
    hash(seed_i ++ shingle).  Seeded by string prefix — deterministic,
    shuffle-free, JVM-side.

    ``hash_impl``: "xxhash64" (production: 64-bit longs, cheapest) or "md5"
    (hex strings, ~lexicographic min) — md5 exists verbatim in DuckDB, so
    the md5 variant gives the whole minhash+LSH pipeline an exact
    cross-engine oracle."""
    hash_fn = F.xxhash64 if hash_impl == "xxhash64" else F.md5

    def seeded_min(i: int) -> F.Column:
        # NB: the lambda must stay single-parameter — a 2-arg lambda would be
        # called by transform() as (element, index) and silently break seeding
        prefix = F.lit(f"mh{i}:")
        return F.array_min(
            F.transform(shingles, lambda s: hash_fn(F.concat(prefix, s)))
        )

    return F.array(*[seeded_min(i) for i in range(n_hashes)])


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer (public-domain constant schedule) —
    self-contained deterministic uint64 seed derivation, stable across
    numpy versions/platforms (pure wraparound arithmetic, no RNG state)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _minhash_banded_schema(sh_tbl: DataFrame) -> T.StructType:
    """Banded-output schema with the id type inherited from the input —
    string doc ids work exactly like longs (np.tile over an object array);
    hard-coding ``id long`` made the numpy path Arrow-error on string ids
    that the xxhash64/md5 paths accept."""
    return T.StructType(
        [
            T.StructField("id", sh_tbl.schema["id"].dataType),
            T.StructField("band", T.IntegerType()),
            T.StructField("bkey", T.LongType()),
        ]
    )


def minhash_banded_numpy(
    sh_tbl: DataFrame, n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Whole-batch numpy MinHash banding → (id, band, bkey): the production
    signature path for big corpora, same design as ``simhash_table``.

    Per Arrow batch: every shingle is hashed ONCE (pandas' vectorized
    64-bit siphash, fixed key — process-stable), then the classic universal
    rehash ``h_i(x) = a_i·x + b_i (mod 2^64)`` (Broder's min-wise family;
    a_i odd ⇒ bijective, so min is taken over a permuted order per seed)
    derives all ``n_hashes`` signature slots as vectorized multiply-adds
    with ``np.minimum.reduceat`` over contiguous doc segments; band keys
    FNV-fold the band's slots.  One C pass per seed instead of the
    expression path's per-seed interpreted string-concat+hash lambda over
    every shingle — the same whole-batch-numpy upgrade the embedding
    near-dup's matmul path got, kept OUT of the contract slot (the md5
    expression twin holds the oracle; pair-set equality is unit-tested).

    ``sh_tbl`` must be ``shingled(...)`` output: every row has ≥1 shingle
    (reduceat segments must be non-empty).
    """
    if n_hashes % bands:
        raise ValueError(f"bands={bands} must divide n_hashes={n_hashes}")
    rows_per_band = n_hashes // bands

    def batch_iter(it):
        idx = np.arange(n_hashes, dtype=np.uint64)
        mult = _splitmix64(idx * np.uint64(2) + np.uint64(1)) | np.uint64(1)
        add = _splitmix64(idx + np.uint64(0x1000))
        fnv_off = np.uint64(0xCBF29CE484222325)
        fnv_p = np.uint64(0x100000001B3)
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["id"].to_numpy()
            lists = pdf["sh"]
            lens = np.fromiter((len(s) for s in lists), dtype=np.int64, count=n)
            offsets = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            flat = np.concatenate([np.asarray(s, dtype=object) for s in lists])
            h = pd.util.hash_array(flat)  # uint64, one pass over all shingles
            sig = np.empty((n, n_hashes), dtype=np.uint64)
            for i in range(n_hashes):  # seed loop: each pass is one C kernel
                sig[:, i] = np.minimum.reduceat(mult[i] * h + add[i], offsets)
            bkeys = np.empty((bands, n), dtype=np.uint64)
            for b in range(bands):
                bk = np.full(n, fnv_off, dtype=np.uint64)
                for r in range(rows_per_band):
                    bk = (bk ^ sig[:, b * rows_per_band + r]) * fnv_p
                bkeys[b] = bk
            yield pd.DataFrame(
                {
                    "id": np.tile(ids, bands),
                    "band": np.repeat(np.arange(bands, dtype=np.int32), n),
                    "bkey": bkeys.reshape(-1).view("int64"),
                }
            )

    return sh_tbl.mapInPandas(batch_iter, _minhash_banded_schema(sh_tbl))


def bands_from_sig(
    sigs: DataFrame, n_hashes: int, bands: int, hash_impl: str = "xxhash64"
) -> DataFrame:
    """(id, band, bkey) from a (id, sig) signature table.

    Band key = hash of the band's slice of the signature; the band join
    carries ONLY (id, band, bkey) — shingle arrays are re-attached after
    candidate dedup, so the shuffle stays narrow (SURVEY.md §4.2 skew row).
    Deriving bands FROM the stored signature (rather than re-shingling) is
    what lets an incremental ingest reuse a persisted signature store and
    guarantees batch and index band keys can never drift.
    """
    rows_per_band = n_hashes // bands
    bkey_fn = F.xxhash64 if hash_impl == "xxhash64" else F.md5
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bkey_fn(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → signature → band buckets →
    candidate pairs inside buckets → exact Jaccard verify on shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    ``hash_impl``: "xxhash64" (JVM expressions), "md5" (identical pipeline
    on DuckDB-expressible hashes — the exact-oracle contract twin), or
    "numpy" (whole-batch vectorized banding, see ``minhash_banded_numpy`` —
    the big-corpus production path).  All three share the candidate-join +
    exact-verify machinery, so they differ only in LSH recall luck; the
    verified pair sets are equality-tested on the test corpus.
    """
    sh_tbl = shingled(df, text_col, id_col, k)
    if hash_impl == "numpy":
        banded = minhash_banded_numpy(sh_tbl, n_hashes, bands)
    else:
        sig = sh_tbl.withColumn(
            "sig", minhash_signature(F.col("sh"), n_hashes, hash_impl)
        )
        banded = bands_from_sig(sig, n_hashes, bands, hash_impl)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bkey") == F.col("r.bkey"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    # |A∪B| = |A|+|B|-|A∩B| (shingle arrays are distinct sets) — one hash-set
    # build per pair instead of two (same form as ngram_jaccard_pairs)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT global n-gram Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin candidate rule) — every pair with ``jaccard >=
    threshold`` over the whole corpus is returned, with no all-pairs join.

    Candidate rule: order each doc's shingle set under a global total order
    and keep its *prefix* of ``|s| - ceil(t*|s|) + 1`` shingles; two sets
    can reach Jaccard >= t only if their prefixes share a shingle (the
    prefix-filtering principle holds for ANY global total order), so
    candidates come from an equi-join on prefix shingles — 100% recall by
    construction (unlike the round-1 ``id % n_blocks`` sampling, which found
    ~1/n_blocks of true pairs).  Exact set-Jaccard verify on candidates.

    The order is (ascending document frequency, shingle) — the AllPairs
    refinement: prefixes carry each doc's RAREST shingles, so candidate
    buckets are keyed by rare shingles and stay thin.  Lexicographic order
    put stop-bigrams ("of the") into prefixes, whose buckets go quadratic
    in the number of docs containing them — measured 101 s -> 8 s on a 20k
    corpus, and the gap widens with corpus size.  Costs one extra narrow
    (shingle, id) shuffle to attach frequencies; results are identical
    (exact algorithm), so the brute-force oracle is unchanged."""
    base = shingled(df, text_col, id_col, k)
    tok = base.select("id", F.explode("sh").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("osh")
        )
    )
    n = F.size("osh")
    # ceil guarded against float fuzz: never exceeds the mathematical ceil
    # (an overshoot would shorten the prefix and silently lose recall; an
    # undershoot only adds candidates)
    pref_len = (n - F.ceil(n * F.lit(float(threshold)) - F.lit(1e-9)).cast("int") + 1)
    pref = ordered.select(
        "id",
        n.alias("sz"),
        F.posexplode(
            F.transform(F.slice("osh", 1, pref_len), lambda s: s["tok"])
        ).alias("pos", "tok"),  # pos: 0-based prefix position == position in osh
    )
    # PPJoin pruning predicates — exact over-approximations evaluated inside
    # the candidate join, BEFORE any array materializes (each with 1e-9 slack
    # so float fuzz can only add candidates, never drop a true pair):
    #   * length filter: J >= t forces t <= |A|/|B| <= 1/t
    #   * positional filter: overlap beyond the matched token is bounded by
    #     the remaining suffixes, 1 + min(|A|-posA-1, |B|-posB-1), and a
    #     qualifying pair needs overlap >= ceil(t/(1+t) * (|A|+|B|))
    # On a small-vocabulary corpus prefix-sharing alone left 31.7M candidate
    # pairs from 20k docs; with these two predicates the verify set collapses
    # to near the true-pair count.
    t = float(threshold)
    a_sz, b_sz = F.col("a.sz").cast("double"), F.col("b.sz").cast("double")
    min_overlap = F.ceil(F.lit(t / (1.0 + t)) * (a_sz + b_sz) - F.lit(1e-9))
    overlap_ub = 1 + F.least(
        F.col("a.sz") - F.col("a.pos") - 1, F.col("b.sz") - F.col("b.pos") - 1
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            on=[
                F.col("a.tok") == F.col("b.tok"),
                F.col("a.id") < F.col("b.id"),
                b_sz >= a_sz * t - F.lit(1e-9),
                a_sz >= b_sz * t - F.lit(1e-9),
                overlap_ub >= min_overlap,
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    # |A∪B| = |A|+|B|-|A∩B| (shingle arrays are distinct sets) — one hash-set
    # build per pair instead of two
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def neardup_groups(
    ids: DataFrame, pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Resolve near-dup PAIRS into GROUPS: connected components over the
    pair graph via min-label propagation (hash-to-min), the step dedup
    actually needs — every doc maps to its component's canonical
    representative (lowest doc id), singletons to themselves.

    ``ids``: one column ``id`` (the full universe); ``pairs``: (id_a, id_b).
    Returns (id, rep_id).

    Scale shape: each iteration is two narrow (id, label) shuffle joins — a
    neighbor-min propagation over the edge list and a pointer-jump lookup
    (``rep ← rep(rep)``, the hash-to-min shortcutting step) — so label depth
    roughly HALVES per round on top of the propagation: convergence is
    O(log diameter) rounds, not O(diameter).  A 2^20-deep duplicate chain
    fits the default ``max_iters`` where plain propagation (rounds 1-2 of
    this build) needed diameter iterations and hard-errored past 20.  No
    component is ever materialized as a row.  Lineage is truncated per
    iteration (localCheckpoint), without which the iterated join plan grows
    superlinearly.  The convergence check rides the checkpointed frame as a
    ``chg`` column (one cheap agg over materialized rows — no extra join).
    Non-convergence within ``max_iters`` is still a hard error, never a
    wrong answer."""
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    try:
        labels = ids.select("id", F.col("id").alias("rep"))
        for _ in range(max_iters):
            neigh_min = (
                edges.join(labels.select(F.col("id").alias("dst"), "rep"), "dst")
                .groupBy("src")
                .agg(F.min("rep").alias("nrep"))
            )
            stepped = labels.join(
                neigh_min.withColumnRenamed("src", "id"), "id", "left"
            ).select(
                "id", "rep", F.least("rep", F.coalesce("nrep", "rep")).alias("rep1")
            )
            # pointer jump: follow the new label one hop through the CURRENT
            # label table (labels of labels are in the same component, and
            # rep values only decrease — monotone, so always safe to take)
            jumped = stepped.join(
                labels.select(
                    F.col("id").alias("rep1"), F.col("rep").alias("rep2")
                ),
                "rep1",
                "left",
            ).select(
                "id",
                F.least("rep1", F.coalesce("rep2", "rep1")).alias("new_rep"),
                (F.least("rep1", F.coalesce("rep2", "rep1")) != F.col("rep")).alias(
                    "chg"
                ),
            )
            new_labels = jumped.localCheckpoint(eager=True)
            changed = new_labels.agg(
                F.sum(F.col("chg").cast("long")).alias("n")
            ).first()["n"]
            labels = new_labels.select("id", F.col("new_rep").alias("rep"))
            if not changed:
                return labels.select("id", F.col("rep").alias("rep_id"))
        raise RuntimeError(
            f"neardup_groups did not converge in {max_iters} iterations"
        )
    finally:
        # the returned labels are checkpointed, so the cached edge blocks
        # are no longer needed — a long-lived driver calling this repeatedly
        # would otherwise accumulate pinned executor storage
        edges.unpersist()


def drop_near_duplicates(
    df: DataFrame, groups: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative per near-dup group (the component's lowest
    id): the terminal dedup step a training-data pipeline runs."""
    reps = groups.filter(F.col("id") == F.col("rep_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(reps, id_col)


def keep_best(
    df: DataFrame,
    groups: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the BEST-scoring doc per near-dup group — the production
    variant of ``drop_near_duplicates``: real pipelines keep the longest /
    highest-quality member of a duplicate cluster, not the lowest id
    (RefinedWeb keeps by length; quality-classifier-ranked selection is the
    same shape).  ``score_col`` must be numeric on ``df``; higher wins,
    ties break to the lowest id so selection is deterministic.

    ``groups`` is ``neardup_groups`` output (id, rep_id) — this composes
    with ANY pair family (jaccard / minhash / simhash / embedding).

    Scale shape: the argmax is one groupBy(rep_id) over narrow
    (rep_id, score, id) rows — min(struct(-score, id)), no per-group
    window — and the winners rejoin ``df`` by id, so document text never
    enters an exchange.
    """
    scored = df.select(
        F.col(id_col).alias("id"), F.col(score_col).alias("_score")
    )
    winners = (
        groups.join(scored, "id")
        .groupBy("rep_id")
        .agg(F.min(F.struct((-F.col("_score")).alias("ns"), F.col("id").alias("id"))).alias("w"))
        .select(F.col("w.id").alias(id_col))
    )
    return df.join(winners, id_col, "left_semi")


def levenshtein_verified_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    max_dist: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance verification of near-dup CANDIDATE pairs →
    ``(id_a, id_b, lev_dist)`` with ``lev_dist <= max_dist``.

    The fourth member of the engine's verify family (MinHash Jaccard
    estimate, exact shingle Jaccard, embedding cosine, and now character
    edit distance): edit distance is the right verifier when near-dups
    differ by small in-place edits — version bumps, timestamps, typo
    fixes — that k-gram Jaccard under- or over-counts depending on where
    the edit lands.  ``pairs`` is any candidate frame with (id_a, id_b)
    — MinHash/SimHash band candidates in practice, so the quadratic
    verify only ever runs on the blocked candidate set, never all pairs.

    Scale shape: candidates arrive as narrow id pairs; the two texts are
    re-attached via two id equi-joins (the minhash re-attach pattern — the
    band structure upstream never shuffles text); the verify itself is
    Spark's BOUNDED ``levenshtein(l, r, threshold)`` — O(max_dist × len)
    banded DP per pair instead of O(len²), and early-exits to -1 past the
    bound.  No Python per row; DuckDB's unbounded ``levenshtein`` filtered
    to the same bound replays it exactly for the oracle.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    ta = docs.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_text_a")
    )
    tb = docs.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_text_b")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "lev_dist",
            F.levenshtein(F.col("_text_a"), F.col("_text_b"), int(max_dist)),
        )
        .filter((F.col("lev_dist") >= 0) & (F.col("lev_dist") <= F.lit(int(max_dist))))
        .select("id_a", "id_b", F.col("lev_dist").cast("long").alias("lev_dist"))
    )


SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash via a vectorized Arrow UDF: token hashes → per-bit ±1 votes →
    sign bit.  Whole-batch numpy: tokens explode to one flat array, the
    (unique-token, 64) bit matrix is built once, per-doc votes come from
    ``np.add.reduceat`` over contiguous doc segments — no per-row Python.
    Token hashing is pandas' vectorized 64-bit siphash (fixed key →
    deterministic across executors/processes)."""

    chunk_tokens = 200_000  # caps the (tokens × bits) matrix ≈ 50 MB / worker

    def batch_iter(it):
        bit_idx = np.arange(bits, dtype=np.uint64)
        for pdf in it:
            out_ids = pdf[id_col].astype("int64")
            n = len(pdf)
            sims = np.zeros(n, dtype=np.uint64)
            # re.ASCII so Python \w matches Java's ASCII-only \w — the md5
            # twin (simhash_md5_table) tokenizes with a JVM split, and the
            # "twins differ only in the hash" guarantee requires the token
            # sets to agree on non-ASCII text too
            token_lists = (
                pdf[text_col]
                .fillna("")
                .str.lower()
                .str.findall(r"[\w']+", flags=re.ASCII)
            )
            lengths = token_lists.str.len().to_numpy()
            cum = np.concatenate(([0], np.cumsum(lengths)))
            flat_all = token_lists.explode().dropna().to_numpy()
            lo = 0
            while lo < n:  # doc-chunk loop bounded by token budget, not rows
                hi = int(np.searchsorted(cum, cum[lo] + chunk_tokens, side="left"))
                hi = min(max(hi, lo + 1), n)
                seg_len = lengths[lo:hi]
                total = int(cum[hi] - cum[lo])
                if total:
                    flat = flat_all[cum[lo] : cum[hi]]
                    uniq, inv = np.unique(flat, return_inverse=True)
                    uh = pd.util.hash_array(uniq)  # uint64, process-stable
                    ubits = ((uh[:, None] >> bit_idx) & np.uint64(1)).astype(np.int32)
                    tok_bits = ubits[inv]  # (chunk_tokens, bits)
                    offsets = np.zeros(hi - lo, dtype=np.int64)
                    np.cumsum(seg_len[:-1], out=offsets[1:])
                    # reduceat only over NON-EMPTY docs' offsets (strictly
                    # increasing, all < total): an empty doc shares its offset
                    # with the next doc, and a trailing empty doc's offset ==
                    # total — clamping it would truncate the last non-empty
                    # doc's segment by one token (wrong simhash)
                    nonempty = seg_len > 0
                    ne_off = offsets[nonempty]
                    sums = np.add.reduceat(tok_bits, ne_off, axis=0)
                    votes = 2 * sums.astype(np.int64) - seg_len[nonempty, None]
                    bit_set = (votes > 0).astype(np.uint64)
                    vals = np.zeros(hi - lo, dtype=np.uint64)
                    vals[nonempty] = (bit_set << bit_idx).sum(axis=1, dtype=np.uint64)
                    sims[lo:hi] = vals
                lo = hi
            yield pd.DataFrame(
                {"doc_id": out_ids, "simhash": sims.view("int64")}
            )

    return df.select(id_col, text_col).mapInPandas(batch_iter, SIMHASH_SCHEMA)


def simhash_md5_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-portable twin of ``simhash_table``: identical vote/sign
    semantics (per-token 64-bit hash → per-bit ±1 votes weighted by token
    multiplicity → bit set iff votes > 0), but the token hash is the first
    16 hex nibbles of ``md5(token)`` — computable verbatim in DuckDB, so the
    WHOLE simhash pipeline (signature → Manku flip-enumeration banding →
    Hamming verify in ``simhash_neardup_pairs``) gets an EXACT cross-engine
    oracle.  The oracle is brute-force all-pairs Hamming (no candidate
    structure leaked), so a hash match also proves the flip-enumeration
    candidate rule is lossless at the configured radius.
    ``pd.util.hash_array`` stays the production hash (one vectorized pass,
    no per-token md5); tests assert this twin and the production path share
    all machinery except the hash.

    Tokenization mirrors the production batch path (lower + ``[\\w']+``
    runs, empties dropped, each occurrence votes).  Pure JVM expressions:
    explode → md5 → nibble decode (``conv``) → 64 conditional sums →
    bit-pack to a signed int64 ``simhash`` (same schema as production).
    Docs with zero tokens get simhash 0, like the production path."""
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"[^\w']+"), lambda x: x != ""
    )
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
    ex = ex.select("id", F.md5("tok").alias("h"))
    nibs = ex.select(
        "id",
        *[
            F.conv(F.substring("h", i + 1, 1), 16, 10).cast("int").alias(f"nb{i}")
            for i in range(16)
        ],
    )
    # bit j (j = 4*i + k; i = hex nibble from the left, k = bit from LSB):
    # vote = 2*((nb_i >> k) & 1) - 1, summed over all token occurrences
    sums = nibs.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col(f"nb{j // 4}"), j % 4).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{j}")
            for j in range(64)
        ]
    )
    packed = None
    for j in range(64):
        # bit 63 is the int64 sign bit: add its weight as a NEGATIVE literal
        weight = F.lit(1 << j) if j < 63 else F.lit(-(1 << 63))
        term = F.when(F.col(f"s{j}") > 0, weight).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    sig = sums.select("id", packed.alias("simhash"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(sig, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash"),
        )
    )


def hash64_py(token: str) -> int:
    """Deterministic 64-bit token hash (FNV-1a) — stable across processes,
    unlike Python's builtin hash().  Kept as the scalar reference
    implementation; the batch path uses pandas' vectorized hash_array."""
    h = 0xCBF29CE484222325
    for ch in token.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_neardup_pairs(
    sim_df: DataFrame,
    max_hamming: int = 8,
    n_bands: int | None = None,
    flip_bits: int = 1,
) -> DataFrame:
    """Candidate pairs whose simhash band keys collide; verify by Hamming
    distance via bit_count(xor) — JVM-side.

    Recall guarantee (pigeonhole + flip enumeration, Manku-style
    multi-index): with ``n_bands`` bands, a pair at distance d has some band
    with at most ``floor(d / n_bands)`` differing bits; each doc emits its
    band value AND every ≤``flip_bits``-bit variant as keys, and since BOTH
    sides of the self-join enumerate variants, a band with up to
    ``2*flip_bits`` diffs still collides.  So the guarantee is
    ``d <= n_bands * (2*flip_bits + 1) - 1``, and ``n_bands`` defaults to
    the smallest band count meeting ``max_hamming``.

    Why not one band per allowed error (round-2 first cut): 9 bands over 64
    bits leave 7-bit keys — 128 distinct buckets per band, so buckets fatten
    as N/128 and the candidate join goes quadratic at corpus scale.  With
    flip enumeration the default for radius 8 is 3 bands of ~21 bits (2M key
    values, ~22 keys per doc per band): bucket entropy stays high enough for
    the band join to remain a narrow shuffle at 100 TB, and the recall
    guarantee is intact.  An explicit ``n_bands`` too small for the radius
    is rejected rather than silently missing pairs (the round-1 defaults
    guaranteed only d <= 3 while accepting max_hamming=8)."""
    if flip_bits not in (0, 1):
        raise ValueError(f"flip_bits must be 0 or 1, got {flip_bits}")
    per_band = 2 * flip_bits + 1
    if n_bands is None:
        n_bands = -(-(max_hamming + 1) // per_band)
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64], got {n_bands}")
    if max_hamming > n_bands * per_band - 1:
        raise ValueError(
            f"max_hamming={max_hamming} not guaranteed by n_bands={n_bands} "
            f"with flip_bits={flip_bits}; need n_bands*(2*flip_bits+1) > max_hamming"
        )
    base, rem = divmod(64, n_bands)
    widths = [base + (1 if b < rem else 0) for b in range(n_bands)]
    shifts = [sum(widths[:b]) for b in range(n_bands)]
    # band mask as a SIGNED 64-bit literal (width 64 → all-ones == -1)
    masks = [(1 << w) - 1 if w < 64 else -1 for w in widths]

    def band_keys(b: int) -> list[F.Column]:
        val = F.shiftrightunsigned(F.col("simhash"), shifts[b]).bitwiseAND(
            F.lit(masks[b])
        )
        keys = [val]
        if flip_bits:
            # bit 63's mask as a SIGNED 64-bit literal
            keys += [
                val.bitwiseXOR(F.lit((1 << j) if j < 63 else -(1 << 63)))
                for j in range(widths[b])
            ]
        return [
            F.struct(F.lit(b).alias("band"), k.alias("bkey")) for k in keys
        ]

    banded = sim_df.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[key for b in range(n_bands) for key in band_keys(b)])
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bkey")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bkey") == F.col("r.bkey"),
                F.col("l.doc_id") < F.col("r.doc_id"),
            ],
        )
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def source_overlap_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate audit: fold ANY near-dup pair frame
    (minhash / simhash / jaccard / embedding — anything with id_a, id_b)
    into the unordered (source_a, source_b, n_pairs) overlap matrix — the
    table that tells a corpus owner which ingest feeds are mirroring each
    other (off-diagonal mass) vs self-duplicating (diagonal mass) BEFORE
    deciding precedence for keep-first dedup.

    Scale shape: two narrow equi-joins attach each pair end's group label
    (pairs carry only ids; the label map is (id, group) — text never
    enters), then one small groupBy whose output is at most
    |groups|·(|groups|+1)/2 rows.  Cell ordering is least/greatest, so the
    matrix is canonical upper-triangular regardless of pair orientation.
    """
    g = docs.select(F.col(id_col), F.col(group_col))
    j = (
        pairs.select("id_a", "id_b")
        .join(
            g.select(F.col(id_col).alias("id_a"), F.col(group_col).alias("_ga")),
            "id_a",
        )
        .join(
            g.select(F.col(id_col).alias("id_b"), F.col(group_col).alias("_gb")),
            "id_b",
        )
    )
    return (
        j.groupBy(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination — the MinHash-LSH
    companion of ``corpus.decontaminate``'s exact n-gram overlap and
    ``similarity.semantic_decontaminate``'s embedding cosine: flag every
    corpus document whose shingle-set Jaccard against ANY benchmark doc
    reaches ``threshold`` (the Dolma / FineWeb "fuzzy decontamination"
    rule — paraphrase-light near-copies of eval items that exact n-gram
    matching misses once a few tokens drift).

    Returns one row per corpus doc: ``(doc_id, contaminated, n_bench_hits,
    max_jaccard_micro)`` with ``max_jaccard_micro = max over hits of
    (1_000_000 * |A∩B|) div |A∪B|`` (NULL when no hit).  The qualifying
    filter is the cross-multiplied INTEGER comparison ``1_000_000 * |∩| >=
    t_micro * |∪|`` — no float in the decision, so a DuckDB oracle replays
    it bit-for-bit.  Corpus docs with fewer than ``k`` tokens cannot form
    shingles and are never flagged (same rule as every shingle op here).

    Scale shape — the benchmark side is BOUNDED (eval suites, not corpora),
    so it broadcasts twice and the corpus NEVER enters a wide exchange:

    * candidates: the corpus band stream (id, band, bkey — narrow, from
      ``bands_from_sig``) probes a broadcast of the bench band index; only
      cross-corpus candidates form — a duplicate pair WITHIN the corpus
      can never flag anything;
    * verify: the candidate (corpus_id, bench_id) pairs — bounded by the
      bench side — pick up the bench shingle set by broadcast, and the
      result probes the corpus shingle table as ANOTHER broadcast, so the
      corpus-side shingle arrays are consumed where they are produced;
    * the per-doc hit aggregate shuffles only hit rows (ints), and the
      final contaminated flag is a broadcast left join onto the corpus ids.

    Net cost at 100 TB: two scans of the corpus (band stream + verify),
    zero corpus-sized shuffles.  ``hash_impl``: "xxhash64" (production) or
    "md5" (DuckDB-expressible — the exact-oracle contract twin; identical
    candidate machinery, same discipline as ``minhash_lsh_pairs``)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_micro = int(round(threshold * 1_000_000))
    c_sh = shingled(corpus, text_col, id_col, k)
    b_sh = shingled(bench, text_col, id_col, k)

    def banded(sh_tbl: DataFrame) -> DataFrame:
        sig = sh_tbl.withColumn(
            "sig", minhash_signature(F.col("sh"), n_hashes, hash_impl)
        )
        return bands_from_sig(sig, n_hashes, bands, hash_impl)

    cand = (
        banded(c_sh)
        .alias("c")
        .join(
            F.broadcast(banded(b_sh).alias("b")),
            on=[F.col("c.band") == F.col("b.band"),
                F.col("c.bkey") == F.col("b.bkey")],
        )
        .select(F.col("c.id").alias("cid"), F.col("b.id").alias("bid"))
        .dropDuplicates(["cid", "bid"])
    )
    with_bench_sh = cand.join(
        F.broadcast(b_sh.select(F.col("id").alias("bid"), F.col("sh").alias("sh_b"))),
        "bid",
    )
    scored = c_sh.select(F.col("id").alias("cid"), F.col("sh").alias("sh_c")).join(
        F.broadcast(with_bench_sh), "cid"
    )
    inter = F.size(F.array_intersect("sh_c", "sh_b")).cast("long")
    union = (F.size("sh_c") + F.size("sh_b")).cast("long") - inter
    hits = (
        scored.select(
            "cid",
            inter.alias("_i"),
            union.alias("_u"),
        )
        .filter(F.lit(1_000_000) * F.col("_i") >= F.lit(t_micro) * F.col("_u"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max(
                F.expr("CAST((1000000 * _i) DIV _u AS BIGINT)")
            ).alias("max_jaccard_micro"),
        )
    )
    return corpus.select(F.col(id_col)).join(
        F.broadcast(hits.withColumnRenamed("cid", id_col)), id_col, "left"
    ).select(
        F.col(id_col),
        F.col("n_bench_hits").isNotNull().alias("contaminated"),
        F.coalesce("n_bench_hits", F.lit(0).cast("long")).alias("n_bench_hits"),
        "max_jaccard_micro",
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT global shingle-set CONTAINMENT self-join — Broder 1997's
    asymmetric companion of resemblance: ``c(A→B) = |A∩B| / |A|``.  Finds
    the pairs resemblance-based dedup is structurally blind to — a short
    document quoted whole inside a long one, a page embedded in a
    boilerplate-heavy wrapper — where Jaccard is diluted by the size gap
    but containment of the smaller side is ~1.

    Returns every unordered pair where EITHER direction reaches
    ``threshold``: ``(id_a, id_b, n_common, cont_a_micro, cont_b_micro)``
    with ``id_a < id_b`` and ``cont_X_micro = (1_000_000·|A∩B|) div |X|``.
    The qualifying filter is the cross-multiplied INTEGER comparison
    ``1_000_000·|∩| >= t_micro·|X|`` — no float in the decision, so the
    brute-force oracle replays it bit-for-bit.

    Candidate rule (asymmetric prefix filter): under any global total
    order, ``c(A→B) >= t`` forces an overlap of ``ceil(t·|A|)``, so A's
    prefix of ``|A| - ceil(t·|A|) + 1`` rarest shingles must intersect
    B's FULL set — candidates are an equi-join of prefix shingles against
    all postings, 100 % recall by construction.  Both directions fall out
    of the ONE join (a qualifying pair is emitted when the contained
    side's prefix hits the containing side's postings).  Ordering by
    ascending document frequency keeps prefix buckets keyed by rare
    shingles (the AllPairs refinement ``ngram_jaccard_pairs`` documents).

    Scale shape: unlike the Jaccard join there is no length filter (the
    containing side may be arbitrarily larger), so the full-side posting
    stream shuffles in whole — but as narrow (shingle, id, size) rows,
    never text, the same row class as the minhash band stream; exact
    verify attaches the two shingle arrays by id AFTER candidate dedup.

    The result is an eager ``localCheckpoint``: the whole join runs when
    this function is called, not at the caller's first action, and the
    returned frame's lineage is truncated — its rows live in executor
    storage, so losing an executor loses them instead of recomputing."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t_micro = int(round(threshold * 1_000_000))
    base = shingled(df, text_col, id_col, k)
    tok = base.select("id", F.explode("sh").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        tok.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("osh")
        )
    )
    # `ordered` feeds BOTH the prefix and the full posting streams, and
    # `base` re-attaches twice for the verify — without materialization
    # Spark replays the shingle scan + the df-frequency shuffle + the
    # sort-aggregate once per consumer.  Persist both (disk-spillable):
    # at 100 TB this is the "materialize the shingle table once" step a
    # production pipeline does between stages (measured 32s -> 17s on the
    # sf0.1 bench corpus; see BENCH/BASELINE.md round-4 notes).
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    ordered = ordered.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _containment_pairs_body(base, ordered, threshold, t_micro)
    finally:
        # The result below is eagerly checkpointed, so the cached shingle
        # blocks are dead weight after this returns — a long-lived driver
        # (job loop, notebook) calling this repeatedly would otherwise
        # accumulate pinned executor storage with no handle to release it
        # (same discipline as neardup_groups' edge cache).
        base.unpersist()
        ordered.unpersist()


def _containment_pairs_body(
    base: DataFrame, ordered: DataFrame, threshold: float, t_micro: int
) -> DataFrame:
    n = F.size("osh")
    pref_len = n - F.ceil(n * F.lit(float(threshold)) - F.lit(1e-9)).cast("int") + 1
    pref = ordered.select(
        "id",
        F.explode(
            F.transform(F.slice("osh", 1, pref_len), lambda s: s["tok"])
        ).alias("tok"),
    )
    full = ordered.select(
        "id", F.explode(F.transform("osh", lambda s: s["tok"])).alias("tok")
    )
    cand = (
        pref.alias("p")
        .join(full.alias("f"), on=[F.col("p.tok") == F.col("f.tok"),
                                   F.col("p.id") != F.col("f.id")])
        .select(
            F.least("p.id", "f.id").alias("id_a"),
            F.greatest("p.id", "f.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    sa, sb = F.size("sh_a").cast("long"), F.size("sh_b").cast("long")
    scored = pairs.select(
        "id_a",
        "id_b",
        inter.alias("n_common"),
        sa.alias("_sa"),
        sb.alias("_sb"),
    ).filter(
        (F.lit(1_000_000) * F.col("n_common") >= F.lit(t_micro) * F.col("_sa"))
        | (F.lit(1_000_000) * F.col("n_common") >= F.lit(t_micro) * F.col("_sb"))
    )
    # Eager: the pair set is tiny next to the shingle intermediates, and
    # materializing it here lets the caller's caches be released at once.
    return scored.select(
        "id_a",
        "id_b",
        "n_common",
        F.expr("CAST((1000000 * n_common) DIV _sa AS BIGINT)").alias("cont_a_micro"),
        F.expr("CAST((1000000 * n_common) DIV _sb AS BIGINT)").alias("cont_b_micro"),
    ).localCheckpoint(eager=True)


def lsh_tuning(threshold: float, n_hashes: int = 32) -> dict:
    """Pick the MinHash-LSH banding for a target Jaccard ``threshold`` —
    the standard S-curve analysis (Leskovec/Rajaraman/Ullman, MMDS ch. 3):
    with b bands of r rows (b·r = n_hashes) a pair of similarity s becomes
    a candidate with probability ``P(s) = 1 − (1 − s^r)^b``, whose
    inflection sits near ``t* = (1/b)^(1/r)``.  Chooses the divisor pair
    with t* closest to the target, and reports the operating
    characteristics every dedup rollout needs to sign off on:

    - ``p_at_threshold``: candidate recall AT the threshold (1 − this is
      the false-negative rate for borderline pairs — exact pairs are
      always caught);
    - ``p_half_threshold``: candidate probability at s = threshold/2 (the
      false-positive mass driver — the verify step removes them but pays
      their bandwidth).

    Driver-side arithmetic only (a handful of floats); feed the result's
    ``bands`` into ``minhash_lsh_pairs`` / the incremental ingest params.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_hashes < 2:
        raise ValueError(f"n_hashes must be >= 2, got {n_hashes}")
    divisors = [b for b in range(1, n_hashes + 1) if n_hashes % b == 0]

    def p_cand(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    best = None
    for b in divisors:
        r = n_hashes // b
        if r < 1:
            continue
        t_star = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        score = abs(t_star - threshold)
        if best is None or score < best[0]:
            best = (score, b, r, t_star)
    _, b, r, t_star = best
    return {
        "bands": b,
        "rows_per_band": r,
        "n_hashes": n_hashes,
        "t_star": round(t_star, 6),
        "p_at_threshold": round(p_cand(threshold, b, r), 6),
        "p_half_threshold": round(p_cand(threshold / 2.0, b, r), 6),
    }
