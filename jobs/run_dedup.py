"""spark-submit entrypoint for the corpus-dedup pipeline — the training-data
half of the engine: near-dup pair discovery → connected-components group
resolution → deduplicated corpus write.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_dedup.py \
        --docs /path/documents.parquet --out /path/dedup_out --method jaccard

Sandbox usage:

    python jobs/run_dedup.py --sf-dir /root/testdata/sf0.001 --out /tmp/dd

Methods: ``jaccard`` = exact global n-gram Jaccard via prefix filtering
(100% recall at the threshold); ``minhash`` = MinHash+LSH candidates with
exact-Jaccard verify (recall governed by the banding).  Both resolve pairs
to groups and keep the lowest-id representative per group.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    from log_analysis_spark.plans import job

    ap = job.parser("documents")
    ap.add_argument("--method", default="jaccard", choices=["jaccard", "minhash"])
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--shingle-k", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import dedup
    from log_analysis_spark.sources import sinks

    spark = job.session(args)
    docs = job.read_source(spark, args, "documents")

    if args.method == "jaccard":
        pairs = dedup.ngram_jaccard_pairs(
            docs, k=args.shingle_k, threshold=args.threshold
        )
    else:
        pairs = dedup.minhash_lsh_pairs(
            docs, k=max(args.shingle_k, 3), threshold=args.threshold
        )
    # pair discovery (shingle → band join → exact verify) is the job's most
    # expensive stage and the group resolution reads its output every
    # round, so it runs once, into a checkpoint that counts the pairs (tiny
    # relative to the corpus: one row per near-dup pair)
    pairs, n_pairs = job.checkpoint_counted(pairs)
    groups = dedup.neardup_groups(docs.select(F.col("doc_id").alias("id")), pairs)
    # the kept write scans every doc once: count them there
    seen = Observation()
    observed = docs.observe(seen, F.count(F.lit(1)).alias("n_docs"))
    kept = dedup.drop_near_duplicates(observed, groups)
    n_kept = sinks.write_counted(kept, f"{args.out}/kept")["rows"]
    n_docs = seen.get["n_docs"]
    print(
        json.dumps(
            {
                "method": args.method,
                "threshold": args.threshold,
                "n_docs": n_docs,
                "n_pairs": n_pairs,
                "n_kept": n_kept,
                "n_dropped": n_docs - n_kept,
                "kept_path": f"{args.out}/kept",
            }
        )
    )


if __name__ == "__main__":
    main()
