"""spark-submit entrypoint for INCREMENTAL corpus dedup — ingest one new
document batch against the persisted LSH state, touching no corpus text.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_incremental_dedup.py \
        --batch /path/day_0417.parquet --state /path/dedup_state

Sandbox usage:

    python jobs/run_incremental_dedup.py \
        --batch /root/testdata/sf0.001/documents.parquet --state /tmp/incr

State layout under ``--state`` (all owned by this job):

    sig_store/     (id, sig array<long>)   one row per accepted doc (tail)
    band_index/    (id, band, bkey)        LSH band keys of sig_store (tail)
    warehouse/     *_c<v>/                 COMPACTED bucketed state tables
    accepted/      ingest_id=<n>/          the admitted docs, per increment
    rejects/       ingest_id=<n>/          (id, matched_id, est_jaccard, why)
    _manifest.jsonl                        per-ingest lineage + resume
    _params.json                           pinned LSH knobs (raise on drift)
    _compaction.json                       compaction watermark (atomic)

Every ``--compact-every`` increments (default 8), the per-ingest state
partitions fold into ONE bucketed table pair — band_index clustered by
(band, bkey), sig_store by id — so the candidate probe reads the catalog
layout and exchanges only the (small) batch side; ``load_state`` reads
compacted + tail transparently and results are identical either way
(equality-tested).  ``--compact-now`` compacts and exits.

Each run is one manifest stage keyed on a content fingerprint of the batch
files (``incremental.ingest_job``): re-submitting the same batch resumes
(prints the recorded summary, writes nothing); a new batch commits the
next ``ingest_id=<n>`` subdirectories, and the manifest records it only
after ALL its writes completed, so a crash never corrupts prior state and
a rerun overwrites exactly the crashed ingest's own subdirectories.

At 100 TB: sig_store/band_index stay ~0.03% the corpus size; the only
corpus-sized work per increment is reading the BATCH.  Bucket band_index
by (band, bkey) and sig_store by id (sources/bucketed.py) to make the
candidate probe shuffle-free on the state side.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    from log_analysis_spark.operators import incremental

    ap = incremental.job_parser("documents", id_col="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--n-hashes", type=int, default=32)
    ap.add_argument("--bands", type=int, default=8)
    args = ap.parse_args()
    if not args.compact_now and not args.batch:
        ap.error("--batch is required unless --compact-now")

    from log_analysis_spark.plans import job
    from log_analysis_spark.plans.manifest import fingerprint_input, fingerprint_source

    spark = job.session(args)
    # the LSH knobs the state is a pure function of are pinned in
    # _params.json — ingesting with different knobs than the state was
    # built with makes band keys never collide, silently accepting every
    # cross-corpus duplicate, so a drift refuses to run
    kind = incremental.text_kind(
        threshold=args.threshold, text_col=args.text_col,
        shingle_k=args.shingle_k, n_hashes=args.n_hashes, bands=args.bands,
    )
    if args.compact_now:
        res = incremental.compact_job(spark, kind, args.state, args.n_buckets)
    else:
        batch = spark.read.parquet(args.batch)
        fp = fingerprint_input(
            args.state, args.threshold, args.shingle_k, args.n_hashes,
            args.bands, args.id_col, args.text_col, fingerprint_source(batch),
        )
        res = incremental.ingest_job(
            spark, kind, args.state, batch, args.id_col, fp,
            args.compact_every, args.n_buckets,
        )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
