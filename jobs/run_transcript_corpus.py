"""spark-submit entrypoint for the full transcripts→training-corpus path —
the A+B composition in one job: conversation transcripts in, deduplicated
token-budget-packed training shards out.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_transcript_corpus.py \
        --input /path/transcripts --out /path/corpus --budget 1048576

Sandbox usage:

    python jobs/run_transcript_corpus.py --sf-dir /root/testdata/sf0.001 --out /tmp/tc

Stages (every one an already-tested operator; this job only composes):

1. **assemble** (`corpus.transcripts_to_docs`): one training document per
   conversation — ordered ``role: text`` rendering, boilerplate turns
   (exact texts recurring across >= ``--boilerplate-frac`` of
   conversations) stripped via a broadcast anti-join.
1b. **line strip** (`span_dedup.strip_common_lines`, when
   ``--strip-line-frac`` is set): frequency-common LINES of the assembled
   docs (>= frac of conversations) removed everywhere via the broadcast
   common-set probe — catches composite-turn boilerplate the turn-level
   strip can't see, and keeps keep-first dedup keys cold downstream.
2. **annotate + gate** (`textstats.with_quality`, `with_lang_pred`): token
   count / punctuation / stopword signals and n-gram language id; docs
   below ``--min-tokens`` surviving tokens are dropped.
3. **near-dup dedup** (`dedup.ngram_jaccard_pairs` prefix-filter self-join
   → `neardup_groups` connected components → `drop_near_duplicates`):
   conversations whose assembled documents are near-identical (retries,
   templated sessions) collapse to one representative.  ``conv_id`` is the
   document key throughout — the dedup machinery only needs an orderable
   id, so no synthetic numeric ids (and no hash-collision risk at scale).
4. **pack + write** (`corpus.pack_shards`): md5-ordered exclusive token
   cumsum, ``shard = floor(cumsum / budget)``, written partitioned by
   shard so a training loader reads one directory per shard.

Scale shape: no all-pairs stage anywhere (prefix-filtered candidates), no
global window (two-phase cumsum), the boilerplate set broadcasts, and each
counted stage persists once (counts never re-execute the chain).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def corpus_shards(args, turns) -> tuple[dict, dict]:
    """Assemble, gate, dedup and pack ``turns`` into ``OUT/shards``;
    (summary, rows written)."""
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import corpus, dedup, span_dedup, textstats
    from log_analysis_spark.sources import sinks

    shards_path = f"{args.out}/shards"
    docs = corpus.transcripts_to_docs(
        turns, boilerplate_conv_frac=args.boilerplate_frac
    )
    n_lines_removed = stripped = None
    if args.strip_line_frac is not None:
        stripped = span_dedup.strip_common_lines(
            docs, max_doc_frac=args.strip_line_frac,
            min_words=2, id_col="conv_id",
        ).persist()
        n_lines_removed = int(
            stripped.agg(F.sum("n_lines_removed")).collect()[0][0] or 0
        )
        docs = docs.drop("text").join(
            stripped.select("conv_id", F.col("clean_text").alias("text")),
            "conv_id",
        )
    docs = textstats.with_lang_pred(textstats.with_quality(docs))
    docs = docs.filter(F.col("n_tokens") >= args.min_tokens).persist()
    n_docs = docs.count()

    if not args.no_dedup:
        pairs = dedup.ngram_jaccard_pairs(
            docs,
            id_col="conv_id",
            k=args.shingle_k,
            threshold=args.dedup_threshold,
        ).persist()
        n_pairs = pairs.count()
        groups = dedup.neardup_groups(
            docs.select(F.col("conv_id").alias("id")), pairs
        )
        kept = dedup.drop_near_duplicates(docs, groups, id_col="conv_id").persist()
    else:
        kept, pairs, n_pairs = docs, None, 0

    # n_tokens is already materialized by with_quality — pass it through so
    # the pack's second scan re-reads a stored long, not a re-tokenize
    packed = corpus.pack_shards(
        kept, budget=args.budget, id_col="conv_id", token_count_col="n_tokens"
    )
    out = kept.join(packed.select("conv_id", "pack_key", "shard"), "conv_id")
    written = sinks.write_counted(
        out, shards_path, F.sum("n_tokens").alias("tokens"),
        partition_by=("shard",),
    )
    n_kept = written["rows"]  # one shard row per kept document
    for df in (kept, docs, pairs, stripped):
        if df is not None:
            df.unpersist()

    n_shards = len(
        sinks.partition_values(turns.sparkSession, shards_path, ("shard",), "shard")
    )
    summary = {
        "n_docs": n_docs,
        "n_neardup_pairs": n_pairs,
        "n_kept": n_kept,
        "n_dropped": n_docs - n_kept,
        "n_shards": n_shards,
        "total_tokens": int(written["tokens"] or 0),
        "budget": args.budget,
        "n_lines_removed": n_lines_removed,
        "shards_path": shards_path,
    }
    return summary, {"shards": n_kept}


def parser():
    from log_analysis_spark.plans import job

    ap = job.parser("transcripts")
    ap.add_argument("--budget", type=int, default=65536, help="tokens per shard")
    ap.add_argument("--boilerplate-frac", type=float, default=0.1)
    ap.add_argument(
        "--strip-line-frac", type=float, default=None,
        help="also strip LINES of the assembled docs recurring across >= "
        "this fraction of conversations (broadcast common-set probe)",
    )
    ap.add_argument("--min-tokens", type=int, default=1)
    ap.add_argument("--dedup-threshold", type=float, default=0.9)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--no-dedup", action="store_true")
    return ap


def main() -> None:
    from log_analysis_spark.plans import job

    args = parser().parse_args()

    spark = job.session(args)
    turns = job.read_source(spark, args, "transcripts")
    # a rerun with the same input files and options resumes from the
    # manifest; any change recomputes (plans/job.resume)
    summary = job.resume(
        args, "shards", f"{args.out}/shards", turns,
        lambda: corpus_shards(args, turns),
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
