"""spark-submit entrypoint for INCREMENTAL embedding dedup — ingest one new
vector batch against the persisted sign-band LSH state, re-pairing no
corpus vectors.  The vector twin of jobs/run_incremental_dedup.py.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_incremental_embed.py \
        --batch /path/day_0417_vectors.parquet --state /path/embed_state

Sandbox usage:

    python jobs/run_incremental_embed.py \
        --batch /root/testdata/sf0.001/embeddings.parquet --state /tmp/eincr

State layout under ``--state`` (all owned by this job):

    unit_store/    (id, unit array<double>)  accepted unit vectors (tail)
    band_index/    (id, band, bkey)          sign-band LSH keys (tail)
    warehouse/     *_c<v>/                   COMPACTED bucketed state tables
    accepted/      ingest_id=<n>/            the admitted vectors, per increment
    rejects/       ingest_id=<n>/            (id, matched_id, cosine, why)
    _manifest.jsonl                          per-ingest lineage + resume
    _params.json                             pinned LSH knobs (raise on drift)
    _compaction.json                         compaction watermark (atomic)

Compaction (``--compact-every``, ``--compact-now``), manifest resume and
crash safety are the text job's, through the same
``incremental.ingest_job`` (see jobs/run_incremental_dedup.py); the
compacted pair is unit_store by id and band_index by (band, bkey).

At 100 TB: unit_store+band_index stay ~(dim×8 + n_bands×12) bytes/vector
(≈ 0.7 KB at 64 dims); the only corpus-sized work per increment is reading
the BATCH, and the cross-corpus verify is EXACT cosine over the stored
units — no estimator noise, no raw-embedding re-reads.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    from log_analysis_spark.operators import incremental

    ap = incremental.job_parser("vectors", id_col="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--threshold", type=float, default=0.99)
    ap.add_argument("--dim", type=int, default=None,
                    help="embedding dimension (inferred from the first "
                         "batch and pinned in _params.json)")
    ap.add_argument("--n-planes", type=int, default=64)
    ap.add_argument("--band-bits", type=int, default=8)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    if not args.compact_now and not args.batch:
        ap.error("--batch is required unless --compact-now")

    from log_analysis_spark.operators import incremental_embed, similarity
    from log_analysis_spark.plans import job
    from log_analysis_spark.plans.manifest import fingerprint_input, fingerprint_source

    spark = job.session(args)
    batch = None if args.compact_now else spark.read.parquet(args.batch)
    if batch is not None:
        # the LSH knobs (and dim) the state is a pure function of are pinned
        # in _params.json; dim is inferred from the first batch so later
        # batches of a different width refuse instead of banding garbage
        args.dim = args.dim or similarity._validate_dim(batch, args.vec_col, None)
    kind = incremental_embed.embed_kind(
        args.dim, threshold=args.threshold, n_planes=args.n_planes,
        band_bits=args.band_bits, seed=args.seed, vec_col=args.vec_col,
    )
    if batch is None:
        res = incremental.compact_job(spark, kind, args.state, args.n_buckets)
    else:
        fp = fingerprint_input(
            args.state, args.threshold, args.n_planes, args.band_bits,
            args.seed, args.dim, args.id_col, args.vec_col,
            fingerprint_source(batch),
        )
        res = incremental.ingest_job(
            spark, kind, args.state, batch, args.id_col, fp,
            args.compact_every, args.n_buckets,
        )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
