"""spark-submit entrypoint for the full parse→enrich→route→aggregate DAG.

Cluster usage (the north-rule launch shape):

    spark-submit --driver-java-options -XX:-DontCompileHugeMethods \
        --py-files log_analysis_spark.zip jobs/run_pipeline.py \
        --input /path/transcripts --out /path/out

(``get_spark`` sets that JVM flag itself only when it launches the JVM; see
``log_analysis_spark.session``.)

Sandbox usage:

    python jobs/run_pipeline.py --sf-dir /root/testdata/sf0.001 --out /tmp/pipe

With ``--input`` the job reads an existing transcripts parquet/Iceberg path;
with ``--sf-dir`` it derives the canonical small-scale transcripts table
from the events parquet.  Reruns resume from the checkpoint manifest.
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
    ap.add_argument(
        "--parse-impl", default="native", choices=["native", "arrow"]
    )
    ap.add_argument(
        "--expect", action="store_true",
        help="run the structural data-quality gate on the input BEFORE the "
        "pipeline (not_null conv_id/turn_idx/ts, unique (conv_id, turn_idx),"
        " non-empty) and FAIL LOUDLY with the report on any violation — "
        "routed-row equality downstream is meaningless over corrupt input",
    )
    ap.add_argument(
        "--seq-audit", action="store_true",
        help="write the per-conversation turn-sequence integrity audit "
        "(gaps / duplicate indexes / shifted starts) to OUT/seq_audit and "
        "report the anomalous-conversation count — the ingest-health "
        "companion of --expect's structural gate (which only proves keys "
        "unique, not streams whole)",
    )
    ap.add_argument(
        "--seq-audit-max-bad-frac", type=float, default=None,
        help="with --seq-audit: fail loudly when more than this fraction "
        "of conversations is non-contiguous",
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from log_analysis_spark.datagen import transcripts_from_events
    from log_analysis_spark.plans.pipeline import run_pipeline
    from log_analysis_spark.session import get_spark

    spark = get_spark("run_pipeline", master=args.master)
    if args.input:
        turns = spark.read.parquet(args.input)
    else:
        turns = transcripts_from_events(spark, args.sf_dir)

    expect_report = None
    if args.expect:
        from log_analysis_spark.operators import expectations as E

        report = E.check_expectations(
            turns,
            [
                E.not_null("conv_id"),
                E.not_null("turn_idx"),
                E.not_null("ts"),
                E.unique("conv_id", "turn_idx"),
                E.min_rows(1),
            ],
        ).collect()
        expect_report = {r["rule"]: int(r["violations"]) for r in report}
        bad = {k: v for k, v in expect_report.items() if v > 0}
        if bad:
            raise SystemExit(
                f"input failed the structural gate: {json.dumps(bad)}"
            )

    seq_report = None
    if args.seq_audit:
        from log_analysis_spark.operators import expectations as E
        from pyspark.sql import functions as F

        audit = E.sequence_integrity(turns)
        audit.write.mode("overwrite").parquet(f"{args.out}/seq_audit")
        audit = spark.read.parquet(f"{args.out}/seq_audit")
        tot = audit.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(~F.col("is_contiguous")).alias("bad"),
        ).first()
        seq_report = {"n_convs": int(tot["n"]), "n_bad_convs": int(tot["bad"])}
        if (
            args.seq_audit_max_bad_frac is not None
            and tot["n"] > 0
            and tot["bad"] > args.seq_audit_max_bad_frac * tot["n"]
        ):
            raise SystemExit(
                f"sequence audit failed: {tot['bad']}/{tot['n']} "
                f"conversations non-contiguous "
                f"(max {args.seq_audit_max_bad_frac}); see {args.out}/seq_audit"
            )

    res = run_pipeline(spark, turns, args.out, parse_impl=args.parse_impl)
    print(
        json.dumps(
            {
                "n_turns": res.n_turns,
                "per_sink_counts": res.per_sink_counts,
                "wall_sec": round(res.wall_sec, 3),
                "stages_skipped": res.stages_skipped,
                "routed_path": res.routed_path,
                "expectations": expect_report,
                "seq_audit": seq_report,
            }
        )
    )


if __name__ == "__main__":
    main()
