"""spark-submit entrypoint for corpus preparation — the stage between dedup
and training: repetition filtering → stratified sampling → token-budget
shard packing → per-shard corpus write.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_corpus.py \
        --docs /path/documents.parquet --out /path/corpus_out \
        --budget 1048576 --rates '{"en": 0.5}'

Sandbox usage:

    python jobs/run_corpus.py --sf-dir /root/testdata/sf0.001 --out /tmp/cp

Stages (each optional-off via flags, all deterministic — reruns produce
byte-identical shard assignments):

1. **repetition filter** (`corpus.repetition_stats`): drop docs whose
   duplicate-line / duplicate-character / top-2-gram fractions exceed the
   thresholds (Gopher-style spam gate).
1b. **Gopher rules** (`textstats.gopher_rules`, when ``--gopher``): the
   Rae-et-al A1.1 seven-rule heuristic gate (word count, mean word
   length, symbol/bullet/ellipsis ratios, alpha fraction, stopwords) —
   a scan-fused projection, so it runs before anything that shuffles.
1c. **domain blocklist** (`urls.blocklist_filter`, when
   ``--block-domains``): drop docs citing any blocked registered domain
   (scan-fused projection, blocklist as a plan literal).
1d. **word blocklist** (`textstats.badwords_gate`, when ``--badwords``):
   drop docs with more than ``--badwords-max`` tokenizer-exact
   occurrences of a listed word (C4's word gate; scan-fused projection).
2. **span dedup** (`span_dedup`, when ``--span-k`` > 0): either rebuild
   docs without corpus-duplicated word k-gram spans (``--span-action
   remove``) or drop docs whose duplicated-span coverage exceeds
   ``--span-max-coverage`` (``filter``).
3. **decontamination** (`corpus.decontaminate`, when ``--bench`` is given):
   drop docs sharing >= ``--decontam-min-hits`` word ``--decontam-n``-grams
   with the benchmark table.
4. **PII scrub** (`textstats.scrub_pii`, when ``--scrub-pii``): redact
   emails / IPv4s / long digit runs in place (text column replaced).
5. **quality gate** (`textstats.unigram_surprise`, when ``--max-surprise``):
   drop docs whose mean unigram-LM surprise exceeds the threshold.
5b. **CCNet tiering** (`textstats.perplexity_buckets`, when
   ``--ppl-keep``): per-language equal-mass surprise buckets; keep only
   the listed tiers (e.g. ``--ppl-keep 0`` = CCNet's "head").
6. **sampling**: per-stratum rates (`corpus.stratified_sample`, ``--rates``)
   OR temperature-flattened source mixing (`corpus.temperature_mix`,
   ``--temperature`` + ``--target-fraction``) — mutually exclusive.
7. **leakage-safe split** (`corpus.leakage_safe_split`, when
   ``--split-eval-frac``): MinHash near-dup groups land in train/eval
   atomically; output is additionally partitioned by split.
8. **shard packing** (`corpus.pack_shards`): md5-ordered exclusive token
   cumsum, shard = floor(cumsum / budget); written partitioned by shard so
   a training loader reads one directory per shard.
9. **vocabulary sidecar** (`textstats.vocabulary`, when ``--vocab-top``):
   the packed corpus's top-V token table written to ``OUT/vocab``.
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
    src.add_argument("--docs", help="documents table path (parquet)")
    src.add_argument("--sf-dir", help="testdata dir holding documents.parquet")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--budget", type=int, default=65536, help="tokens per shard")
    ap.add_argument(
        "--rates",
        default="{}",
        help='JSON per-stratum sampling rates, e.g. \'{"en": 0.5}\' (empty = keep all)',
    )
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--no-repetition-filter", action="store_true")
    ap.add_argument("--bench", help="benchmark table (parquet) to decontaminate against")
    ap.add_argument("--decontam-n", type=int, default=5)
    ap.add_argument("--decontam-min-hits", type=int, default=1)
    ap.add_argument(
        "--fuzzy-decontam-threshold", type=float, default=None,
        help="ALSO drop docs whose MinHash-LSH shingle Jaccard against any "
        "--bench doc reaches this threshold (near-dup decontamination — "
        "catches paraphrase-light eval copies the exact n-gram gate misses)",
    )
    ap.add_argument("--scrub-pii", action="store_true")
    ap.add_argument(
        "--soft-dedup", action="store_true",
        help="attach SoftDedup 1e6 div n_copies sampling weights instead "
        "of dropping exact duplicates (weights ride the packed shards)",
    )
    ap.add_argument(
        "--span-k", type=int, default=0,
        help="enable duplicated-span dedup at word k-grams (0 = off)",
    )
    ap.add_argument(
        "--span-action", choices=("remove", "filter"), default="remove",
        help="remove: rebuild docs without duplicated spans; "
        "filter: drop docs whose dup coverage exceeds --span-max-coverage",
    )
    ap.add_argument("--span-max-coverage", type=float, default=0.5)
    ap.add_argument(
        "--gopher", action="store_true",
        help="apply the Gopher A1.1 seven-rule quality gate",
    )
    ap.add_argument(
        "--gopher-min-words", type=int, default=50,
        help="Gopher word-count lower bound (paper default 50)",
    )
    ap.add_argument(
        "--gopher-min-stopwords", type=int, default=2,
        help="distinct required-stopword containment bound (paper "
        "default 2; the containment list is English-specific, so lower "
        "it for multilingual corpora)",
    )
    ap.add_argument(
        "--block-domains", default=None,
        help="comma-separated registered-domain blocklist: drop every doc "
        "citing a URL whose eTLD+1 is listed (C4's badwords-domain gate)",
    )
    ap.add_argument(
        "--badwords", default=None,
        help="comma-separated word blocklist: drop every doc with more "
        "than --badwords-max tokenizer-exact occurrences (C4's word gate)",
    )
    ap.add_argument("--badwords-max", type=int, default=0)
    ap.add_argument(
        "--ppl-keep", default=None,
        help="comma-separated CCNet perplexity tiers to keep "
        "(e.g. '0' = head, '0,1' = head+middle)",
    )
    ap.add_argument(
        "--ppl-buckets", type=int, default=3,
        help="number of equal-mass CCNet tiers per language",
    )
    ap.add_argument(
        "--max-surprise", type=float, default=None,
        help="drop docs whose unigram-LM surprise exceeds this (garbled text)",
    )
    ap.add_argument(
        "--min-ttr", type=float, default=None,
        help="drop docs whose type-token ratio is below this (repetitive/"
        "templated text the repetition thresholds can miss at short spans)",
    )
    ap.add_argument(
        "--max-loop-frac", type=float, default=None,
        help="drop docs whose longest period-p token loop covers more "
        "than this fraction of the doc (degenerate generation filter)",
    )
    ap.add_argument(
        "--max-bigram-surprise", type=float, default=None,
        help="drop docs whose interpolated-bigram-LM surprise exceeds this "
        "(incoherent token ORDER the unigram gate can't see)",
    )
    ap.add_argument(
        "--temperature", type=float, default=None,
        help="temperature-flattened source mixing instead of --rates "
        "(requires --target-fraction; mutually exclusive with --rates)",
    )
    ap.add_argument("--target-fraction", type=float, default=0.5)
    ap.add_argument("--mix-col", default="source")
    ap.add_argument(
        "--budget-mix-weights", default=None,
        help="JSON per-group target weights for the token-budget "
        'waterfilling mixture, e.g. \'{"en": 0.6, "de": 0.4}\' '
        "(requires --budget-mix-tokens; mutually exclusive with --rates "
        "and --temperature; groups run over --mix-col)",
    )
    ap.add_argument("--budget-mix-tokens", type=int, default=None)
    ap.add_argument(
        "--pack-order-col", default=None,
        help="group-coherent shard packing: order the packed token stream "
        "(group, md5(id)) so same-group docs are adjacent (e.g. lang)",
    )
    ap.add_argument(
        "--split-eval-frac", type=float, default=None,
        help="emit a leakage-safe train/eval split column (near-dup groups "
        "via MinHash LSH land in one split atomically)",
    )
    ap.add_argument("--vocab-top", type=int, default=0,
                    help="write the top-V vocabulary table to OUT/vocab")
    ap.add_argument(
        "--report", action="store_true",
        help="write the one-pass per-(source, lang) corpus audit report "
        "(doc/token totals, gate flag counts) for the PACKED corpus to "
        "OUT/report",
    )
    ap.add_argument(
        "--dsir-top", type=int, default=0,
        help="keep only the top-K docs by DSIR unigram-LM importance "
        "weight toward --dsir-target (0 = stage off)",
    )
    ap.add_argument(
        "--dsir-target", default="lang = 'en'",
        help="SQL boolean expression over the docs defining the DSIR "
        "target slice",
    )
    ap.add_argument(
        "--classifier-min-mean", type=float, default=None,
        help="model-based quality gate: train the hashed-n-gram NB "
        "classifier toward --classifier-target and drop docs whose "
        "per-token mean log-odds falls below this (nats)",
    )
    ap.add_argument(
        "--classifier-target", default="lang = 'en'",
        help="SQL boolean expression defining the classifier's "
        "high-quality exemplar slice",
    )
    ap.add_argument("--classifier-buckets", type=int, default=1 << 16)
    ap.add_argument(
        "--classifier-pareto-alpha", type=float, default=None,
        help="GPT-3-style stochastic gate: instead of the hard "
        "--classifier-min-mean cut, keep each doc iff a deterministic "
        "Pareto(alpha) draw exceeds 1 - sigmoid(score)",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    # usage errors exit 2 here, before the JVM starts
    if (
        args.classifier_min_mean is not None
        and args.classifier_pareto_alpha is not None
    ):
        ap.error(
            "--classifier-min-mean and --classifier-pareto-alpha are "
            "mutually exclusive gates"
        )
    rates = json.loads(args.rates)
    n_mix_modes = sum(
        1 for on in (bool(rates), args.temperature is not None,
                     args.budget_mix_weights is not None) if on
    )
    if n_mix_modes > 1:
        ap.error(
            "--rates, --temperature and --budget-mix-weights are mutually "
            "exclusive sampling modes"
        )
    if args.budget_mix_weights is not None and args.budget_mix_tokens is None:
        ap.error("--budget-mix-weights requires --budget-mix-tokens")
    if args.fuzzy_decontam_threshold is not None and not args.bench:
        ap.error("--fuzzy-decontam-threshold requires --bench")

    from pyspark.sql import functions as F

    from log_analysis_spark.operators import (
        corpus,
        dedup,
        span_dedup,
        textstats,
        urls,
    )
    from log_analysis_spark.session import get_spark
    from log_analysis_spark.sources import sinks

    spark = get_spark("run_corpus", master=args.master)
    path = args.docs or f"{args.sf_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    n_input = docs.count()

    # each expensive stage materializes its output before the count so the
    # progressively-longer chain (explode→groupBy repetition trees, the
    # decontamination gram join) executes ONCE, not once per downstream
    # count + once for the final write.  localCheckpoint (not persist)
    # because it also CUTS THE LOGICAL-PLAN LINEAGE: stages like DSIR and
    # the leakage split reference their input frame 3-5 times, so the
    # composed plan tree grows ~branching^stages — with every stage on,
    # the un-truncated plan made the driver OOM just RENDERING the plan
    # string for a downstream .cache() name.  persist() caches data but
    # keeps the full plan; checkpointing resets each stage to a leaf.
    # Predecessor block cleanup is left to the ContextCleaner: once the
    # next stage is checkpointed its lineage no longer references the
    # previous frame, so the blocks age out with the Python reference.
    prev_cached = None

    def _materialize(df):
        nonlocal prev_cached
        if df is prev_cached:
            # stage was a no-op (e.g. empty --rates, no --scrub-pii): the
            # frame is already materialized
            return df, df.count()
        df = df.localCheckpoint(eager=True)
        prev_cached = df
        return df, df.count()

    if not args.no_repetition_filter:
        rep = corpus.repetition_stats(docs).select("doc_id", "keep_repetition")
        docs, n_clean = _materialize(
            docs.join(rep, "doc_id")
            .filter(F.col("keep_repetition"))
            .drop("keep_repetition")
        )
    else:
        n_clean = n_input

    if args.gopher:
        # scan-fused projection — no join needed, the gate is a filter
        docs, n_gopher = _materialize(
            textstats.gopher_rules(
                docs,
                min_words=args.gopher_min_words,
                min_stopwords=args.gopher_min_stopwords,
            )
            .filter(F.col("keep_gopher"))
            .select(*docs.columns)
        )
    else:
        n_gopher = None

    if args.block_domains:
        blocked = [d.strip() for d in args.block_domains.split(",") if d.strip()]
        docs, n_blocked = _materialize(
            urls.blocklist_filter(urls.with_url_domains(docs), blocked).drop(
                "urls", "domains"
            )
        )
    else:
        n_blocked = None

    if args.badwords:
        words = [w.strip() for w in args.badwords.split(",") if w.strip()]
        docs, n_badwords = _materialize(
            textstats.badwords_gate(docs, words, max_hits=args.badwords_max)
        )
    else:
        n_badwords = None

    if args.span_k:
        if args.span_action == "remove":
            clean = span_dedup.remove_dup_spans(docs, k=args.span_k)
            docs, n_span = _materialize(
                docs.drop("text").join(
                    clean.withColumnRenamed("clean_text", "text"), "doc_id"
                )
            )
        else:
            cov = span_dedup.dup_span_stats(docs, k=args.span_k).select(
                "doc_id", "dup_coverage"
            )
            docs, n_span = _materialize(
                docs.join(cov, "doc_id")
                .filter(F.col("dup_coverage") <= args.span_max_coverage)
                .drop("dup_coverage")
            )
    else:
        n_span = n_clean

    bench = spark.read.parquet(args.bench) if args.bench else None
    if args.bench:
        flags = corpus.decontaminate(
            docs, bench, n=args.decontam_n, min_hits=args.decontam_min_hits
        ).select("doc_id", "contaminated")
        docs, n_decontam = _materialize(
            docs.join(flags, "doc_id")
            .filter(~F.col("contaminated"))
            .drop("contaminated")
        )
    else:
        n_decontam = n_span

    n_fuzzy = n_decontam
    if args.fuzzy_decontam_threshold is not None:
        fz = dedup.fuzzy_decontaminate(
            docs, bench, threshold=args.fuzzy_decontam_threshold
        ).select("doc_id", "contaminated")
        docs, n_fuzzy = _materialize(
            docs.join(fz, "doc_id")
            .filter(~F.col("contaminated"))
            .drop("contaminated")
        )

    if args.scrub_pii:
        docs = (
            textstats.scrub_pii(docs)
            .drop("text")
            .withColumnRenamed("text_clean", "text")
        )

    if args.max_surprise is not None:
        surp = textstats.unigram_surprise(docs).select("doc_id", "surprise")
        docs = (
            docs.join(surp, "doc_id")
            .filter(F.col("surprise") <= args.max_surprise)
            .drop("surprise")
        )

    if args.max_bigram_surprise is not None:
        bsurp = textstats.bigram_surprise(docs).select(
            "doc_id", "bigram_surprise"
        )
        docs = (
            docs.join(bsurp, "doc_id")
            .filter(F.col("bigram_surprise") <= args.max_bigram_surprise)
            .drop("bigram_surprise")
        )

    if args.max_loop_frac is not None:
        loops = textstats.loop_detection(docs).select(
            "doc_id", "loop_frac_micro"
        )
        thr = round(args.max_loop_frac * 1_000_000)
        docs, n_loop = _materialize(
            docs.join(loops, "doc_id")
            .filter(F.col("loop_frac_micro") <= thr)
            .drop("loop_frac_micro")
        )
    else:
        n_loop = None

    n_ttr = n_loop
    if args.min_ttr is not None:
        ttr = textstats.lexical_diversity(docs).select(
            "doc_id", (F.col("ttr_micro") >= int(round(args.min_ttr * 1_000_000))).alias("_keep_ttr")
        )
        docs, n_ttr = _materialize(
            docs.join(ttr, "doc_id").filter("_keep_ttr").drop("_keep_ttr")
        )

    if args.ppl_keep is not None:
        keep_tiers = [int(x) for x in args.ppl_keep.split(",") if x != ""]
        if not keep_tiers or not all(
            0 <= t < args.ppl_buckets for t in keep_tiers
        ):
            raise SystemExit(
                f"--ppl-keep tiers must be in [0, {args.ppl_buckets}), "
                f"got {args.ppl_keep!r}"
            )
        tiers = textstats.perplexity_buckets(
            docs, n_buckets=args.ppl_buckets
        ).select("doc_id", "ppl_bucket")
        docs, n_ppl = _materialize(
            docs.join(tiers, "doc_id")
            .filter(F.col("ppl_bucket").isin(keep_tiers))
            .drop("ppl_bucket")
        )
    else:
        n_ppl = None

    if (
        args.classifier_min_mean is not None
        or args.classifier_pareto_alpha is not None
    ):
        scored = textstats.ngram_quality_classifier(
            docs, F.expr(args.classifier_target),
            n_buckets=args.classifier_buckets,
        ).select("doc_id", "mean_logodds")
        if args.classifier_pareto_alpha is not None:
            keep = (
                textstats.pareto_classifier_gate(
                    scored, alpha=args.classifier_pareto_alpha
                )
                .filter(F.col("keep_pareto"))
                .select("doc_id")
            )
        else:
            keep = scored.filter(
                F.col("mean_logodds") >= args.classifier_min_mean
            ).select("doc_id")
        docs, n_classifier = _materialize(docs.join(keep, "doc_id"))
    else:
        n_classifier = None

    if args.dsir_top:
        # top-K is ≤K rows → broadcast the selection back onto the corpus
        sel = textstats.dsir_select(
            docs, F.expr(args.dsir_target), k=args.dsir_top
        ).select("doc_id")
        docs, n_dsir = _materialize(docs.join(F.broadcast(sel), "doc_id"))
    else:
        n_dsir = None

    if rates:
        docs = corpus.stratified_sample(docs, args.strata_col, rates)
    elif args.temperature is not None:
        docs = corpus.temperature_mix(
            docs, args.mix_col,
            temperature=args.temperature,
            target_fraction=args.target_fraction,
        )
    elif args.budget_mix_weights is not None:
        sel = corpus.budget_mix(
            docs,
            json.loads(args.budget_mix_weights),
            args.budget_mix_tokens,
            mix_col=args.mix_col,
        ).select("doc_id")
        docs = docs.join(F.broadcast(sel), "doc_id")
    # docs feeds pack_shards AND the final join — persist so the sampled
    # scrubbed frame isn't recomputed on both sides
    docs, n_sampled = _materialize(docs)
    counts = {
        "n_input": n_input,
        "n_after_repetition_filter": n_clean,
        "n_after_gopher": n_gopher,
        "n_after_domain_blocklist": n_blocked,
        "n_after_badwords": n_badwords,
        "n_after_span_dedup": n_span,
        "n_after_decontamination": n_decontam,
        "n_after_fuzzy_decontam": n_fuzzy,
        "n_after_loop_gate": n_loop,
        "n_after_ttr_gate": n_ttr,
        "n_after_ppl_tiering": n_ppl,
        "n_after_classifier": n_classifier,
        "n_after_dsir": n_dsir,
    }
    if n_sampled == 0:
        # fail loudly: pack_shards would write an empty dataset and every
        # downstream reader would die with an opaque schema-inference error
        raise SystemExit(
            "no documents survived the stage chain; loosen the gate that "
            "first hit zero: "
            f"{json.dumps({**counts, 'n_after_sampling': n_sampled})}"
        )

    # the counts the job reports about its shards ride the shards write
    shard_metrics = [F.sum("n_tokens").alias("tokens")]
    if args.soft_dedup:
        # SoftDedup (He et al. 2024): keep every exact-dup copy, attach the
        # 1e6 div n_copies sampling weight so the group carries one doc of
        # gradient mass downstream — the keep-everything alternative to a
        # hard dedup stage; weights ride the packed shards.
        docs = docs.join(dedup.softdedup_weights(docs), "doc_id")
        shard_metrics.append(F.count_if(F.col("n_copies") > 1).alias("soft_dup"))

    if args.split_eval_frac is not None:
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.2)
        groups = dedup.neardup_groups(
            docs.select(F.col("doc_id").alias("id")),
            pairs.select("id_a", "id_b"),
        )
        docs = corpus.leakage_safe_split(
            docs, groups, eval_fraction=args.split_eval_frac
        ).drop("rep_id")
        part_cols = ("split", "shard")
        shard_metrics.append(F.count_if(F.col("split") == "eval").alias("eval"))
    else:
        part_cols = ("shard",)

    packed = corpus.pack_shards(
        docs, budget=args.budget, order_col=args.pack_order_col
    )
    out = (
        docs.join(packed.select("doc_id", "n_tokens", "shard"), "doc_id")
    )
    shards_path = f"{args.out}/shards"
    written = sinks.write_counted(
        out, shards_path, *shard_metrics, partition_by=part_cols
    )
    if args.vocab_top:
        textstats.vocabulary(docs, top_v=args.vocab_top).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/vocab")
    if args.report:
        corpus.corpus_report(
            docs, gopher_min_stopwords=args.gopher_min_stopwords
        ).write.mode("overwrite").parquet(f"{args.out}/report")
    print(
        json.dumps(
            {
                **counts,
                "n_soft_dup_docs": written.get("soft_dup"),
                "n_after_sampling": n_sampled,
                "budget": args.budget,
                "n_shards": len(
                    sinks.partition_values(spark, shards_path, part_cols, "shard")
                ),
                "total_tokens": int(written["tokens"] or 0),
                "n_eval": written.get("eval"),
                "shards_path": shards_path,
            }
        )
    )


if __name__ == "__main__":
    main()
