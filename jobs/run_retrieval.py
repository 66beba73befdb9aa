"""spark-submit entrypoint for corpus retrieval — the audit/query side of
the engine: rank the documents table against a query set with BM25, a
token-set-Jaccard second ranker, and (optionally) fuse the two by
reciprocal-rank fusion into a hybrid top-k.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_retrieval.py \
        --docs /path/documents.parquet --out /path/ret_out \
        --query "hash join table" --query "slow scan filter" --hybrid

Sandbox usage:

    python jobs/run_retrieval.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/ret --query "hash join table" --hybrid

Outputs under --out: ``bm25/`` (per-query BM25 top-k), ``jaccard/`` +
``hybrid/`` when ``--hybrid`` (the Jaccard ranking and the RRF fusion),
``phrase/`` when ``--phrase`` (exact-phrase match positions).  The summary
JSON line carries per-output row counts and the query list.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    from log_analysis_spark.plans import job

    ap = job.parser("documents")
    ap.add_argument(
        "--query", action="append", default=[],
        help="query text (repeatable; query_id = position, 1-based)",
    )
    ap.add_argument("--k", type=int, default=10, help="final top-k per query")
    ap.add_argument(
        "--k-each", type=int, default=0,
        help="per-ranker candidate depth before fusion (default 4*k)",
    )
    ap.add_argument("--hybrid", action="store_true",
                    help="also run the Jaccard ranker and RRF-fuse")
    ap.add_argument("--rrf-k0", type=int, default=60)
    ap.add_argument("--phrase", default="",
                    help="exact phrase to locate (positional match)")
    args = ap.parse_args()
    if not args.query:
        ap.error("at least one --query is required")

    from log_analysis_spark.operators import retrieval
    from log_analysis_spark.sources import sinks

    spark = job.session(args)
    docs = job.read_source(spark, args, "documents")
    queries = spark.createDataFrame(
        [(i + 1, q) for i, q in enumerate(args.query)],
        "query_id int, query_text string",
    )
    k_each = args.k_each or 4 * args.k
    counts: dict[str, int] = {}

    def write(name, df):
        return sinks.write_counted(df, f"{args.out}/{name}")["rows"]

    bm = retrieval.bm25_topk(docs, queries, k=k_each if args.hybrid else args.k)
    counts["n_bm25"] = write("bm25", bm)

    if args.hybrid:
        jac = retrieval.jaccard_topk(docs, queries, k=k_each)
        counts["n_jaccard"] = write("jaccard", jac)
        # the fusion reads the two written rankings as its inputs
        fused = retrieval.rrf_fuse(
            [
                spark.read.parquet(f"{args.out}/bm25"),
                spark.read.parquet(f"{args.out}/jaccard"),
            ],
            k=args.k,
            k0=args.rrf_k0,
        )
        counts["n_hybrid"] = write("hybrid", fused)

    if args.phrase:
        ph = retrieval.phrase_search(docs, args.phrase)
        counts["n_phrase_docs"] = write("phrase", ph)

    print(
        json.dumps(
            {
                "docs_path": job.source_path(args, "documents"),
                "queries": args.query,
                "k": args.k,
                "hybrid": bool(args.hybrid),
                **counts,
            }
        )
    )


if __name__ == "__main__":
    main()
