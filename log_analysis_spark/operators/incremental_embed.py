"""Incremental EMBEDDING-space near-dup ingestion against a persisted
sign-band LSH index — the vector twin of ``operators/incremental.py``.

A multimodal training-data pipeline at 100 TB carries an embedding column
alongside text, and its daily question is the same: "dedup this NEW batch
of vectors against everything already accepted" without re-shuffling the
corpus.  The text path persists MinHash signatures; here the persisted
state is even stronger — the unit vectors ARE the complete information,
so the cross-corpus verify is EXACT cosine, not an estimator:

State = two tables, ~(dim × 8 + n_bands × 12) bytes/vector (≈ 0.7 KB at
64 dims — a 100 TB corpus of 1 KB docs carries a sub-1% index):

- ``unit_store(id, unit: array<double>)`` — numpy-normalized unit vectors
  of accepted rows (``similarity._units_matmul`` — bit-identical to the
  normalization inside the signature pass).
- ``band_index(id, band, bkey)`` — sign-band LSH keys from the SAME
  deterministic hyperplanes + round-6 sign rule as the batch operators
  (``similarity._signatures_matmul``), so batch and incremental bucket
  identically and can never drift.

Ingest of a new batch:

1. within-batch near-dup dedup (``similarity.embedding_neardup_pairs_matmul``
   — narrow band join + exact cosine verify); components resolve
   driver-side by union-find under ``local_pairs_cap`` edges (pairs, not
   docs) with the distributed min-label-propagation CC as the over-cap
   fallback — the same two-tier design as the text ingest;
2. surviving reps' band keys equi-join ``band_index`` → candidate
   (new, old) pairs — a plain shuffle hash join on (band, bkey), never a
   cross product; at scale the index is bucketed by (band, bkey) so only
   the (tiny) batch side shuffles;
3. candidates verify by exact cosine over the two unit stores (round-6,
   the same ``_pair_cosine`` batched einsum as the batch path);
4. accepted = reps with no corpus match at ``threshold``; their
   (unit, band) rows append to the state tables for the next increment.

Determinism: units and band keys are pure functions of the vector —
re-ingesting the same batch rejects its first attempt's rows as exact
matches (cosine 1.0), so the state append is idempotent-by-content,
exactly like the text twin.

Admission semantics (both twins): a new item is rejected iff it directly
matches an ACCEPTED representative.  Batch CC is transitive over the whole
pair graph, so a vector that chains to a corpus rep only THROUGH a
rejected (never-stored) vector is accepted here but would be folded by a
full re-dedup — the standard trade of any first-seen incremental dedup;
run a periodic batch re-pair if transitive closure matters.

Ids are longs (the ``_signatures_matmul`` / ``_units_matmul`` schemas);
string-keyed corpora should map through a dense id or extend those
schemas the way ``dedup._minhash_banded_schema`` derives its id type.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_analysis_spark.operators import incremental, similarity

UNIT_SCHEMA = "id long, unit array<double>"
EBAND_SCHEMA = "id long, band int, bkey int"

# knobs the persisted state is a pure function of: a different value for ANY
# of these against existing state makes band keys never collide (and a
# different dim makes the stored units incomparable) — pinned per state dir
# via incremental.ensure_state_params(keys=EMBED_STATE_PARAM_KEYS, ...)
EMBED_STATE_PARAM_KEYS = ("n_planes", "band_bits", "seed", "dim")

EMBED_STATE_SPECS = (
    incremental.StateTableSpec(
        "unit_store", UNIT_SCHEMA, ("id", "unit"), ("id",), ("id",)
    ),
    incremental.StateTableSpec(
        "band_index", EBAND_SCHEMA, ("id", "band", "bkey"),
        ("band", "bkey"), ("band", "bkey"),
    ),
)


def ensure_embed_state_params(state_dir: str, **params) -> dict:
    """Pin the embedding-LSH knobs per state dir (raise on drift) — the
    vector twin of the text sidecar; see incremental.ensure_state_params."""
    return incremental.ensure_state_params(
        state_dir, keys=EMBED_STATE_PARAM_KEYS, **params
    )


def load_embed_state(spark, state_dir: str, before_ingest_id: int | None = None):
    """(unit_store, band_index) from ``{state_dir}/{unit_store,band_index}/
    ingest_id=<n>/`` plus the optional compacted bucketed layout — same
    layout, crash-recovery and loud-failure semantics as the text state
    (incremental.load_state_tables)."""
    comp = incremental._read_compaction_marker(state_dir)
    if comp is not None and comp.get("kind") != "embed":
        # one state dir holds ONE state kind: re-registering the text
        # tables' DDL under the embed schemas would silently misread them
        raise ValueError(
            f"state at {state_dir!r} is not an embedding state "
            f"(marker kind={comp.get('kind')!r})"
        )
    return tuple(incremental.load_state_tables(
        spark, state_dir, EMBED_STATE_SPECS, before_ingest_id
    ))


def compact_embed_state(
    spark, state_dir: str, upto_ingest_id: int, n_buckets: int = 16,
    prune: bool = True,
) -> dict:
    """Fold per-ingest embed-state partitions into ONE bucketed table pair:
    band_index clustered by (band, bkey) — the probe join's keys — and
    unit_store by id (the verify join's key).  Versioned tables + atomic
    watermark marker; see incremental.compact_state_tables."""
    return incremental.compact_state_tables(
        spark, state_dir, upto_ingest_id, EMBED_STATE_SPECS,
        n_buckets, {"kind": "embed"}, prune,
    )


@dataclass
class EmbedIngestResult:
    accepted: DataFrame        # (id) batch vectors to admit into the corpus
    rejected: DataFrame        # (id, matched_id, cosine, why)
    new_unit_rows: DataFrame   # (id, unit) to append to unit_store
    new_band_rows: DataFrame   # (id, band, bkey) to append to band_index


def embed_kind(
    dim: int, threshold: float = 0.99, n_planes: int = 64, band_bits: int = 8,
    seed: int = 42, vec_col: str = "embedding",
) -> incremental.IncrementKind:
    """The sign-band vector state (``ingest_embedding_batch``) as an
    increment kind; ``dim`` is pinned with the LSH knobs."""
    return incremental.IncrementKind(
        specs=EMBED_STATE_SPECS,
        id_type="long",
        params=dict(n_planes=n_planes, band_bits=band_bits, seed=seed, dim=dim),
        marker={"kind": "embed"},
        load=load_embed_state,
        ingest=partial(
            ingest_embedding_batch, threshold=threshold, dim=dim,
            n_planes=n_planes, band_bits=band_bits, seed=seed, vec_col=vec_col,
        ),
    )


def empty_embed_state(spark) -> tuple[DataFrame, DataFrame]:
    """(unit_store, band_index) canonical empty frames (first increment)."""
    return (
        spark.createDataFrame([], UNIT_SCHEMA),
        spark.createDataFrame([], EBAND_SCHEMA),
    )


def ingest_embedding_batch(
    batch: DataFrame,
    unit_store: DataFrame,
    band_index: DataFrame,
    threshold: float = 0.99,
    dim: int | None = None,
    n_planes: int = 64,
    band_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    local_pairs_cap: int = 1_000_000,
) -> EmbedIngestResult:
    """Dedup ``batch`` within itself and against the persisted vector index.

    ``unit_store``/``band_index`` may be empty frames with the canonical
    schemas (first increment).  Returned frames are lazy; the caller
    persists/writes them.  The LSH knobs (n_planes, band_bits, seed) are a
    pure function of the state — changing them against existing state makes
    band keys never collide; pin them per state dir the way
    ``incremental.ensure_state_params`` does for text.

    Zero-norm vectors cannot band or score: they are ACCEPTED (never
    near-dup-rejected) and contribute no state rows — identical to the
    batch path, which drops them from both the banding and the verify.
    """
    # -- 1. within-batch: exact-cosine near-dup dedup ----------------------
    intra_rejected, reps = incremental._within_batch(
        batch,
        similarity.embedding_neardup_pairs_matmul(
            batch, threshold, dim, n_planes, band_bits, seed, id_col, vec_col
        ),
        id_col, T.LongType(), "cosine", "cosine", local_pairs_cap,
    )

    # -- 2. cross-corpus candidates: batch bands equi-join the index -------
    dim = similarity._validate_dim(reps, vec_col, dim)
    planes = similarity.hyperplanes(dim, n_planes, seed)
    batch_bands = similarity._signatures_matmul(
        reps, planes, band_bits, id_col, vec_col
    ).select("id", F.posexplode("bkeys").alias("band", "bkey"))
    cand = incremental._band_candidates(batch_bands, band_index)

    # -- 3. exact-cosine verify over the two unit stores -------------------
    new_units = similarity._units_matmul(reps, id_col, vec_col)
    verified = (
        cand.join(
            new_units.select(F.col("id").alias("new_id"), F.col("unit").alias("un")),
            "new_id",
        )
        .join(
            unit_store.select(F.col("id").alias("old_id"), F.col("unit").alias("uo")),
            "old_id",
        )
        .withColumn("cosine", similarity._pair_cosine(F.col("un"), F.col("uo")))
        .filter(F.col("cosine") >= threshold)
    )
    cross_rejected = incremental._best_corpus_match(verified, "cosine")

    # -- 4. accepted = reps minus corpus matches; state rows to append -----
    dup_ids = cross_rejected.select("id")
    accepted = reps.select(F.col(id_col).alias("id")).join(dup_ids, "id", "left_anti")
    new_unit_rows = new_units.join(dup_ids, "id", "left_anti")
    new_band_rows = batch_bands.join(dup_ids, "id", "left_anti")

    return EmbedIngestResult(
        accepted=accepted,
        rejected=intra_rejected.unionByName(cross_rejected),
        new_unit_rows=new_unit_rows,
        new_band_rows=new_band_rows,
    )
