"""spark-submit entrypoint for the event-stream analytics surface — the
telemetry job next to the corpus jobs: as-of enrichment, hopping-window
counts, funnel, cohort retention, and the sketch-based health report
(approximate distincts, CMS skew scan, quantiles) in one pass over an
events table.

Cluster usage (same --py-files launch shape as jobs/run_pipeline.py):

    spark-submit --py-files log_analysis_spark.zip jobs/run_events_analytics.py \
        --input /path/events --out /path/analytics

Sandbox usage:

    python jobs/run_events_analytics.py --sf-dir /root/testdata/sf0.001 --out /tmp/ea

Outputs (each a parquet dir under --out): ``asof/`` (left events enriched
with the most recent right event), ``sliding/`` (hopping-window counts per
type), ``funnel/`` (per-user steps completed), ``retention/`` (cohort
matrix), ``report/`` (per-type KMV distinct users + value quantiles, plus
HLL estimates under ``--hll-p``), ``alerts/`` (hourly burst/drop
anomalies from ``timeseries.burst_hours``, ``--burst-trail-hours``),
``attribution/`` (multi-touch conversion credit under
``--attr-conv-type``, last/first/linear models in exact integer
micro-units).  The
summary JSON line carries per-output row counts plus the CMS-detected hot
keys — the skew advisory that feeds salting knobs downstream.

Resume: a rerun with the same input files and the same options (every
option but ``--master``) reprints the recorded summary plus
``"resumed": true`` without recomputation (``plans/job.resume``).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def parser():
    from log_analysis_spark.plans import job

    ap = job.parser("events")
    ap.add_argument("--asof-left-type", default="error")
    ap.add_argument("--asof-right-type", default="purchase")
    ap.add_argument("--asof-tolerance-sec", type=int, default=None)
    ap.add_argument("--window-sec", type=int, default=3600)
    ap.add_argument("--slide-sec", type=int, default=900)
    ap.add_argument(
        "--funnel", default="signup,view,purchase",
        help="comma-separated ordered step event types",
    )
    ap.add_argument("--kmv-k", type=int, default=64)
    ap.add_argument("--quantiles", default="0.5,0.9,0.99")
    ap.add_argument("--quantile-resolution", type=float, default=0.25)
    ap.add_argument(
        "--skew-frac", type=float, default=0.01,
        help="flag keys holding >= this fraction of all events (CMS scan)",
    )
    ap.add_argument(
        "--ohlc-bucket-sec", type=int, default=86400,
        help="OHLC downsampling bucket (0 disables the ohlc/ output)",
    )
    ap.add_argument(
        "--burst-trail-hours", type=int, default=24,
        help="trailing baseline for hourly burst/drop alerting "
        "(0 disables the alerts/ output)",
    )
    ap.add_argument("--burst-z", type=int, default=3)
    ap.add_argument(
        "--cusum-h", type=int, default=0,
        help="enable CUSUM drift alerts at h means of cumulative excess "
        "(0 = off) — catches slow ramps the burst z-test misses",
    )
    ap.add_argument("--cusum-k-milli", type=int, default=300)
    ap.add_argument(
        "--robust-k-milli", type=int, default=0,
        help="enable median/MAD robust outlier annotation of event values "
        "per event_type at k/1000 MADs (0 = off) — flags the wild values "
        "a mean/sigma test hides behind its own inflated sigma",
    )
    ap.add_argument(
        "--attr-conv-type", default="",
        help="enable multi-touch attribution crediting this conversion "
        "event type's trailing-window touches (last/first/linear models)",
    )
    ap.add_argument("--attr-touch-types", default="click,view")
    ap.add_argument("--attr-lookback-hours", type=int, default=24)
    ap.add_argument(
        "--hll-p", type=int, default=0,
        help="also report HLL distinct-user estimates at 2^p registers "
        "(0 = KMV only)",
    )
    return ap


def analytics(args, ev) -> tuple[dict, dict]:
    """Write every output under ``--out``; (summary, rows per output)."""
    from pyspark.sql import functions as F

    from log_analysis_spark.operators import expectations, sketches, timeseries
    from log_analysis_spark.plans import job
    from log_analysis_spark.sources import sinks

    counts: dict[str, int] = {}
    written: dict[str, int] = {}

    def write(name, df, *metrics):
        res = sinks.write_counted(df, f"{args.out}/{name}", *metrics)
        written[name] = res["rows"]
        return res

    asof = timeseries.asof_join(
        ev.filter(F.col("event_type") == args.asof_left_type),
        ev.filter(F.col("event_type") == args.asof_right_type),
        "user_id",
        ["value", "event_id"],
        right_order="event_id",
        tolerance_sec=args.asof_tolerance_sec,
    )
    counts["n_asof"] = write("asof", asof)["rows"]

    sliding = timeseries.sliding_counts(
        ev, "ts", args.window_sec, args.slide_sec, group="event_type"
    )
    counts["n_sliding"] = write("sliding", sliding)["rows"]

    steps = [s for s in args.funnel.split(",") if s]
    funnel = timeseries.funnel_steps(
        ev, "user_id", "ts", "event_type", steps, "event_id"
    )
    fc = write(
        "funnel", funnel,
        F.count_if(F.col("steps_completed") == len(steps)).alias("completed"),
    )
    counts["n_funnel_users"] = fc["rows"]
    counts["n_funnel_completed"] = fc["completed"]

    retention = timeseries.cohort_retention(ev, "user_id", "ts")
    counts["n_retention_cells"] = write("retention", retention)["rows"]

    qs = [float(x) for x in args.quantiles.split(",") if x]
    report = sketches.kmv_distinct(
        ev, "user_id", k=args.kmv_k, group="event_type"
    ).join(
        sketches.hist_quantiles(
            ev, "value", qs, resolution=args.quantile_resolution,
            group="event_type",
        ),
        "event_type",
    )
    if args.hll_p:
        report = report.join(
            sketches.hll_distinct(
                ev, "user_id", p=args.hll_p, group="event_type"
            ).withColumnRenamed("est_distinct", "est_distinct_hll"),
            "event_type",
        )
    counts["n_report_rows"] = write("report", report)["rows"]

    if args.ohlc_bucket_sec:
        ohlc = timeseries.downsample_ohlc(
            ev, "event_type", "ts", "value", "event_id", args.ohlc_bucket_sec
        )
        counts["n_ohlc_bars"] = write("ohlc", ohlc)["rows"]

    if args.burst_trail_hours:
        alerts = timeseries.burst_hours(
            ev, "ts", "event_type",
            n_trail=args.burst_trail_hours, z=args.burst_z,
        ).filter(F.col("anomaly").isNotNull())
        counts["n_burst_alerts"] = write("alerts", alerts)["rows"]

    if args.cusum_h:
        drift = timeseries.cusum_hours(
            ev, "ts", "event_type",
            k_milli=args.cusum_k_milli, h_mult=args.cusum_h,
        ).filter(F.col("drift").isNotNull())
        counts["n_drift_alerts"] = write("drift", drift)["rows"]

    if args.robust_k_milli:
        outl = sketches.robust_outliers(
            ev, "value", k_milli=args.robust_k_milli, group="event_type"
        ).filter("is_outlier").select(
            "event_id", "event_type", "value", "dev_cells", "mad_cells"
        )
        counts["n_robust_outliers"] = write("outliers", outl)["rows"]

    if args.attr_conv_type:
        attr = timeseries.attribution(
            ev,
            conv_type=args.attr_conv_type,
            touch_types=tuple(
                t for t in args.attr_touch_types.split(",") if t
            ),
            lookback_hours=args.attr_lookback_hours,
        )
        # each attributed conversion has exactly one last-touch row holding
        # the full credit; unattributed ones carry zero credit
        m = write(
            "attribution", attr,
            F.count_if(F.col("credit_last_micro") > 0).alias("convs"),
        )
        counts["n_attribution_rows"] = m["rows"]
        counts["n_attributed_convs"] = m["convs"]

    profile = expectations.profile_columns(ev, ["value", "user_id"])
    counts["n_profile_rows"] = write("profile", profile)["rows"]

    hot = sketches.skewed_keys(ev, "user_id", threshold_frac=args.skew_frac)
    counts["hot_user_ids"] = sorted(
        int(r["user_id"]) for r in hot.collect()
    )

    summary = {
        "events_path": job.source_path(args, "events"),
        "n_events": ev.count(),
        **counts,
    }
    return summary, written


def main() -> None:
    from log_analysis_spark.plans import job

    args = parser().parse_args()

    from pyspark.sql import functions as F

    spark = job.session(args)
    ev = job.read_source(spark, args, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    summary = job.resume(
        args, "events_analytics", f"{args.out}/report", ev,
        lambda: analytics(args, ev),
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
