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

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts table path (parquet)")
    src.add_argument("--sf-dir", help="testdata dir to derive transcripts from")
    ap.add_argument("--out", required=True, help="output directory")
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
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    import os

    from pyspark.sql import functions as F

    from log_analysis_spark.datagen import transcripts_from_events
    from log_analysis_spark.operators import corpus, dedup, span_dedup, textstats
    from log_analysis_spark.plans.manifest import (
        Manifest,
        StageRecord,
        fingerprint_input,
        fingerprint_source,
    )
    from log_analysis_spark.session import get_spark
    from log_analysis_spark.sources import sinks

    spark = get_spark("run_transcript_corpus", master=args.master)
    if args.input:
        turns = spark.read.parquet(args.input)
    else:
        turns = transcripts_from_events(spark, args.sf_dir)

    # manifest resume (same contract as jobs/run_pipeline.py): the shards
    # write is checkpointed under a content fingerprint of the input files
    # + every knob that shapes the output; a rerun with the same fingerprint
    # skips all recomputation and reprints the recorded summary, any change
    # (input files, sizes, mtimes, or any knob) recomputes (latest-wins
    # lookup — see plans/manifest.py)
    shards_path = f"{args.out}/shards"
    manifest = Manifest(f"{args.out}/_manifest.jsonl")
    fp = fingerprint_input(
        args.out, args.budget, args.boilerplate_frac, args.min_tokens,
        args.dedup_threshold, args.shingle_k, args.no_dedup,
        args.strip_line_frac,
        fingerprint_source(turns),
    )
    prior = manifest.lookup("shards", fp)
    if prior is not None and os.path.exists(shards_path):
        print(json.dumps({**prior["metrics"], "resumed": True,
                          "shards_path": shards_path}))
        return

    docs = corpus.transcripts_to_docs(
        turns, boilerplate_conv_frac=args.boilerplate_frac
    )
    n_lines_removed = None
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
    for df in (kept, docs, pairs):
        if df is not None:
            df.unpersist()

    n_shards = len(sinks.partition_values(spark, shards_path, ("shard",), "shard"))
    metrics = {
        "n_docs": n_docs,
        "n_neardup_pairs": n_pairs,
        "n_kept": n_kept,
        "n_dropped": n_docs - n_kept,
        "n_shards": n_shards,
        "total_tokens": int(written["tokens"] or 0),
        "budget": args.budget,
        "n_lines_removed": n_lines_removed,
    }
    manifest.record(
        StageRecord(
            stage="shards",
            input_fingerprint=fp,
            output_path=shards_path,
            rows=n_kept,
            n_partitions=n_shards,
            partition_rows={"shards": n_kept},
            metrics=metrics,
        )
    )
    print(json.dumps({**metrics, "shards_path": shards_path}))


if __name__ == "__main__":
    main()
