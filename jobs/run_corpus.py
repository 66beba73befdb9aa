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

Stages 1–6 are one ordered table (``gates``) run by one loop
(``run_gates``).  Each counted gate is materialized by one eager
``localCheckpoint`` that also counts it, and reports ``n_after_<gate>``;
a gate that is off reports ``null``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def parse_args(argv=None):
    """The job's options; usage errors exit 2 here, before the JVM starts."""
    from log_analysis_spark.plans import job

    ap = job.parser("documents")
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
    args = ap.parse_args(argv)
    n_mix_modes = sum(map(bool, (
        json.loads(args.rates), args.temperature is not None,
        args.budget_mix_weights is not None,
    )))
    tiers = _tiers(args.ppl_keep or "")
    for bad, message in (
        (args.classifier_min_mean is not None
         and args.classifier_pareto_alpha is not None,
         "--classifier-min-mean and --classifier-pareto-alpha are mutually "
         "exclusive gates"),
        (n_mix_modes > 1,
         "--rates, --temperature and --budget-mix-weights are mutually "
         "exclusive sampling modes"),
        (args.budget_mix_weights is not None and args.budget_mix_tokens is None,
         "--budget-mix-weights requires --budget-mix-tokens"),
        (args.fuzzy_decontam_threshold is not None and not args.bench,
         "--fuzzy-decontam-threshold requires --bench"),
        (args.ppl_keep is not None
         and not (tiers and all(0 <= t < args.ppl_buckets for t in tiers)),
         f"--ppl-keep tiers must be in [0, {args.ppl_buckets}), "
         f"got {args.ppl_keep!r}"),
    ):
        if bad:
            ap.error(message)
    return args


def _tiers(ppl_keep: str) -> list[int]:
    return [int(x) for x in ppl_keep.split(",") if x != ""]


def _words(csv: str | None) -> list[str]:
    return [w.strip() for w in (csv or "").split(",") if w.strip()]


def _micro(frac: float) -> int:
    return round(frac * 1_000_000)


def _keep_flagged(docs, flags, keep):
    """The shape most gates share: join the gate's per-doc ``flags``
    (``doc_id`` plus its signal columns), keep the docs where ``keep``
    holds, drop the signals."""
    signals = [c for c in flags.columns if c != "doc_id"]
    return docs.join(flags, "doc_id").filter(keep).drop(*signals)


def gates(args, bench) -> list:
    """Stages 1–6 in order, as (summary key or None, is on, docs -> docs).

    A keyed stage is a counted gate: ``run_gates`` materializes and counts
    its output.  An unkeyed stage stays lazy until the next counted gate.
    Two rows share a key where one gate has two modes; at most one of them
    is on."""
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import corpus, dedup, span_dedup, textstats, urls

    def scored(d):
        return textstats.ngram_quality_classifier(
            d, F.expr(args.classifier_target), n_buckets=args.classifier_buckets,
        ).select("doc_id", "mean_logodds")

    def selected(d, sel):
        # a selection is at most the top-K / budget's docs: broadcast it
        return d.join(F.broadcast(sel.select("doc_id")), "doc_id")

    rates = json.loads(args.rates)
    return [
        ("n_after_repetition_filter", not args.no_repetition_filter,
         lambda d: _keep_flagged(
             d, corpus.repetition_stats(d).select("doc_id", "keep_repetition"),
             F.col("keep_repetition"))),
        # scan-fused projection: no join, the gate is a filter
        ("n_after_gopher", args.gopher,
         lambda d: textstats.gopher_rules(
             d, min_words=args.gopher_min_words,
             min_stopwords=args.gopher_min_stopwords,
         ).filter(F.col("keep_gopher")).select(*d.columns)),
        ("n_after_domain_blocklist", bool(args.block_domains),
         lambda d: urls.blocklist_filter(
             urls.with_url_domains(d), _words(args.block_domains)
         ).drop("urls", "domains")),
        ("n_after_badwords", bool(args.badwords),
         lambda d: textstats.badwords_gate(
             d, _words(args.badwords), max_hits=args.badwords_max)),
        ("n_after_span_dedup", args.span_k and args.span_action == "remove",
         lambda d: d.drop("text").join(
             span_dedup.remove_dup_spans(d, k=args.span_k)
             .withColumnRenamed("clean_text", "text"), "doc_id")),
        ("n_after_span_dedup", args.span_k and args.span_action == "filter",
         lambda d: _keep_flagged(
             d, span_dedup.dup_span_stats(d, k=args.span_k)
             .select("doc_id", "dup_coverage"),
             F.col("dup_coverage") <= args.span_max_coverage)),
        ("n_after_decontamination", bench is not None,
         lambda d: _keep_flagged(
             d, corpus.decontaminate(
                 d, bench, n=args.decontam_n, min_hits=args.decontam_min_hits
             ).select("doc_id", "contaminated"),
             ~F.col("contaminated"))),
        ("n_after_fuzzy_decontam", args.fuzzy_decontam_threshold is not None,
         lambda d: _keep_flagged(
             d, dedup.fuzzy_decontaminate(
                 d, bench, threshold=args.fuzzy_decontam_threshold
             ).select("doc_id", "contaminated"),
             ~F.col("contaminated"))),
        (None, args.scrub_pii,
         lambda d: textstats.scrub_pii(d).drop("text")
         .withColumnRenamed("text_clean", "text")),
        (None, args.max_surprise is not None,
         lambda d: _keep_flagged(
             d, textstats.unigram_surprise(d).select("doc_id", "surprise"),
             F.col("surprise") <= args.max_surprise)),
        (None, args.max_bigram_surprise is not None,
         lambda d: _keep_flagged(
             d, textstats.bigram_surprise(d).select("doc_id", "bigram_surprise"),
             F.col("bigram_surprise") <= args.max_bigram_surprise)),
        ("n_after_loop_gate", args.max_loop_frac is not None,
         lambda d: _keep_flagged(
             d, textstats.loop_detection(d).select("doc_id", "loop_frac_micro"),
             F.col("loop_frac_micro") <= _micro(args.max_loop_frac))),
        ("n_after_ttr_gate", args.min_ttr is not None,
         lambda d: _keep_flagged(
             d, textstats.lexical_diversity(d).select("doc_id", "ttr_micro"),
             F.col("ttr_micro") >= _micro(args.min_ttr))),
        ("n_after_ppl_tiering", args.ppl_keep is not None,
         lambda d: _keep_flagged(
             d, textstats.perplexity_buckets(d, n_buckets=args.ppl_buckets)
             .select("doc_id", "ppl_bucket"),
             F.col("ppl_bucket").isin(_tiers(args.ppl_keep)))),
        ("n_after_classifier", args.classifier_min_mean is not None,
         lambda d: _keep_flagged(
             d, scored(d), F.col("mean_logodds") >= args.classifier_min_mean)),
        ("n_after_classifier", args.classifier_pareto_alpha is not None,
         lambda d: _keep_flagged(
             d, textstats.pareto_classifier_gate(
                 scored(d), alpha=args.classifier_pareto_alpha
             ).select("doc_id", "keep_pareto"),
             F.col("keep_pareto"))),
        ("n_after_dsir", args.dsir_top > 0,
         lambda d: selected(d, textstats.dsir_select(
             d, F.expr(args.dsir_target), k=args.dsir_top))),
        # sampling: the usage checks allow at most one mode
        (None, bool(rates),
         lambda d: corpus.stratified_sample(d, args.strata_col, rates)),
        (None, args.temperature is not None,
         lambda d: corpus.temperature_mix(
             d, args.mix_col, temperature=args.temperature,
             target_fraction=args.target_fraction)),
        (None, args.budget_mix_weights is not None,
         lambda d: selected(d, corpus.budget_mix(
             d, json.loads(args.budget_mix_weights), args.budget_mix_tokens,
             mix_col=args.mix_col))),
        # the sampled frame feeds pack_shards and the final join
        ("n_after_sampling", True, lambda d: d),
    ]


def run_gates(docs, table) -> tuple:
    """Run the ``gates`` table over ``docs``: (docs after the last stage,
    {key: rows after that gate, or None when the gate is off})."""
    from log_analysis_spark.plans import job

    counts = dict.fromkeys(key for key, _, _ in table if key)
    rows = None  # the row count of docs while it is a counted checkpoint
    for key, on, stage in table:
        if not on:
            continue
        out = stage(docs)
        if out is not docs:
            docs, rows = out, None
        if key is not None:
            if rows is None:
                docs, rows = job.checkpoint_counted(docs)
            counts[key] = rows
    return docs, counts


def main() -> None:
    args = parse_args()

    from pyspark.sql import functions as F

    from log_analysis_spark.operators import corpus, dedup, textstats
    from log_analysis_spark.plans import job
    from log_analysis_spark.sources import sinks

    spark = job.session(args)
    docs = job.read_source(spark, args, "documents")
    n_input = docs.count()
    bench = spark.read.parquet(args.bench) if args.bench else None
    docs, counts = run_gates(docs, gates(args, bench))
    counts = {"n_input": n_input, **counts}
    if counts["n_after_sampling"] == 0:
        # fail loudly: pack_shards would write an empty dataset and every
        # downstream reader would die with an opaque schema-inference error
        raise SystemExit(
            "no documents survived the stage chain; loosen the gate that "
            f"first hit zero: {json.dumps(counts)}"
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
