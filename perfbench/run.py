"""Benchmark of the transcript pipeline on ``local[<cores>]``.

Run from the repository root:

    python3 perfbench/run.py --workload route_batch --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``route_batch``, ``corpus_build`` and
``route_stream``.  ``BENCHMARK.json`` lists ``route_batch`` and
``route_stream``; ``corpus_build`` runs the same way and is traced and checked
in every traced run.  One process starts one Spark session
through ``log_analysis_spark.session.get_spark``, writes the seeded input,
computes the expected outputs independently, warms up, then runs checked
units closed loop until ``--seconds`` have passed.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a separate
run that reports the per-layer metrics: it traces every workload once, since
each layer is exercised by one of them, with the Spark event log on and each
layer call under its own job group.

Every metric is printed by name with its unit and sample count; the last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  All files go under ``.perfbench_work/`` in the
current directory.  The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

# A set-up is repeated this many times and its median reported; the
# session itself starts once.
SETUP_REPEATS = 3
MIN_UNITS = 3
# Batches beyond the reported high percentile.
TAIL_SAMPLES = 10

# Which end-to-end metric each layer metric should move, written down before
# measuring; a change to one layer is judged against this.
LAYER_EFFECTS = {
    "parse.self_s, router.tag_self_s":
        "turns_per_s on route_batch and route_stream; no change on corpus_build",
    "enrich.self_s":
        "turns_per_s on route_batch; no change on route_stream or corpus_build",
    "sources.write_s, sources.write_files, sources.write_bytes":
        "turns_per_s on route_batch; resume_s through the layout it leaves",
    "manifest.partition_counts_s, manifest.fingerprint_s":
        "turns_per_s and resume_s on route_batch",
    "aggregate.sink_counts_s, aggregate.hourly_s, aggregate.conv_count_s":
        "turns_per_s and resume_s on route_batch; no change on the other two",
    "corpus.*, textstats.annotate_s, dedup.*": "turns_per_s on corpus_build",
    "streaming.*": "batch_p50_ms and batch_phigh_ms on route_stream",
    "session.start_s": "setup_s on every workload",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def work_dirs(workload: str) -> dict[str, str]:
    base = os.path.join(os.getcwd(), ".perfbench_work", workload)
    return {
        "base": base,
        "tmp": os.path.join(base, "tmp"),
        "local": os.path.join(base, "local"),
        "events": os.path.join(base, "events"),
        "data": os.path.join(base, "data"),
        "out": os.path.join(base, "out"),
    }


def start_session(dirs: dict[str, str], trace: bool):
    """Keep every file Spark and the JVM write inside the work dir."""
    from log_analysis_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    # The heap is fixed at 2 GB and touched at start.  Otherwise how much of
    # it is resident depends on when the collector happens to run, which
    # moved peak_rss_mb by up to 10% between runs of the same code; now it
    # moves with memory outside the heap.
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": os.path.join(dirs["base"], "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf), cores


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited: the JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid``, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of a set of processes, sampled from /proc."""

    def __init__(self, pids: list[int], interval: float = 0.02) -> None:
        self.pids = pids
        self.interval = interval
        self.peak_kb = 0
        self.peak_kb_by_pid = dict.fromkeys(pids, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no VmRSS for pid {pid}")

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = {p: self.rss_kb(p) for p in self.pids}
            self.peak_kb = max(self.peak_kb, sum(kb.values()))
            for p, v in kb.items():
                self.peak_kb_by_pid[p] = max(self.peak_kb_by_pid[p], v)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")


def high_percentile(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that has at least
    ``TAIL_SAMPLES`` samples beyond it.  With too few samples for any tail
    the median is the highest supported figure, reported as p50."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_SAMPLES:
        return 50.0, statistics.median(xs)
    return 100.0 * (n - TAIL_SAMPLES) / n, xs[n - TAIL_SAMPLES - 1]


def e2e_metrics(rows: int, samples, setup: dict, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, sample counts) of the end-to-end figures."""
    walls = [s.wall_s for s in samples]
    resumes = [r for s in samples for r in s.resume_s]
    batches = [b for s in samples for b in s.batch_ms]
    pct, phigh = high_percentile(batches)
    metrics = {
        "turns_per_s": (rows / statistics.median(walls), "turns/s"),
        "resume_s": (statistics.median(resumes), "s"),
        "batch_p50_ms": (statistics.median(batches), "ms"),
        "batch_phigh_ms": (phigh, "ms"),
        "setup_s": (setup["total_s"], "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    counts = {
        "turns_per_s": len(walls),
        "resume_s": len(resumes),
        "batch_p50_ms": len(batches),
        "batch_phigh_ms": len(batches),
        "setup_s": SETUP_REPEATS,
        "peak_rss_mb": 1,
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, {
        "counts": counts,
        "batch_phigh_pct": pct,
    }


def warm(spark, workload, seed: int, dirs: dict[str, str], prep) -> None:
    """Run the workload's warm-up units: the first runs on a fresh JVM are up
    to 1.5x slower than steady state."""
    from workloads import fresh_dir

    if workload.warmup_spec is not workload.spec:
        prep = workload.prepare(spark, seed, os.path.join(dirs["data"], "warmup"), warm=True)
    for _ in range(workload.warmup_units):
        workload.run_once(spark, prep, fresh_dir(os.path.join(dirs["out"], "warmup")))


def run_e2e(spark, workload, args, dirs, cores) -> dict:
    from workloads import CheckFailed, fresh_dir

    setup_t0 = time.perf_counter()
    session_s = args.session_s
    gen_s = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        prep = workload.prepare(spark, args.seed, os.path.join(dirs["data"], "input"))
        gen_s.append(time.perf_counter() - t)
    warm_t = time.perf_counter()
    warm(spark, workload, args.seed, dirs, prep)
    warmup_s = time.perf_counter() - warm_t
    setup = {
        "session_s": session_s,
        "input_s_median": statistics.median(gen_s),
        "input_s": gen_s,
        "warmup_s": warmup_s,
        "total_s": session_s + statistics.median(gen_s) + warmup_s,
        "wall_s": time.perf_counter() - setup_t0 + session_s,
    }

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    samples, errors, cpu = [], [], []
    attempted = 0
    t0 = time.perf_counter()
    with RssSampler([os.getpid(), int(jvm_pid)]) as rss:
        while time.perf_counter() - t0 < args.seconds or attempted < MIN_UNITS:
            out_dir = fresh_dir(os.path.join(dirs["out"], f"run{attempted}"))
            attempted += 1
            try:
                c0 = cpu_s(jvm_pid)
                samples.append(workload.run_once(spark, prep, out_dir))
                cpu.append(cpu_s(jvm_pid) - c0)
            except CheckFailed as e:
                errors.append(f"check failed: {e}")
            except Exception:
                errors.append(traceback.format_exc())
            fresh_dir(out_dir)
    measured_s = time.perf_counter() - t0
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "cores": cores,
        "input": prep.info.summary(),
        "setup": setup,
        "measured_s": measured_s,
        "attempted": attempted,
        "failed": len(errors),
        "failed_frac": len(errors) / attempted,
        "errors": errors,
        "samples": [vars(s) for s in samples],
        "jvm_cpu_s": cpu,
        "peak_rss_mb_by_process": {
            "python": rss.peak_kb_by_pid[os.getpid()] / 1024.0,
            "jvm": rss.peak_kb_by_pid[int(jvm_pid)] / 1024.0,
        },
        "metrics": {},
    }
    if samples:
        result["metrics"], result["detail"] = e2e_metrics(
            prep.info.rows, samples, setup, rss.peak_kb / 1024.0
        )
    return result


def run_trace(spark, workloads, args, dirs, cores) -> dict:
    """Trace every workload once in this session, then read the event log."""
    from workloads import Tracer, fresh_dir

    tr = Tracer(spark)
    layer = {"session.start_s": args.session_s}
    inputs = {}
    for name, wl in workloads.items():
        prep = wl.prepare(spark, args.seed, os.path.join(dirs["data"], name))
        inputs[name] = prep.info.summary()
        warm(spark, wl, args.seed, dirs, prep)
        layer.update(wl.trace(spark, prep, fresh_dir(os.path.join(dirs["out"], name)), tr))
    spark.stop()

    import eventlog

    counters = eventlog.group_counters(eventlog.find_log(dirs["events"]), tr.labels)
    for group, values in counters.items():
        for c in eventlog.COUNTERS:
            layer[f"{group}.{c}"] = values[c]
    t_origin = min(s["start"] for s in tr.spans)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "inputs": inputs,
        "attempted": 1,
        "failed": 0,
        "spans": [
            {**s, "start": s["start"] - t_origin, "end": s["end"] - t_origin} for s in tr.spans
        ],
        "stages_per_layer": {g: v["stages"] for g, v in counters.items()},
        "layer_effects": LAYER_EFFECTS,
        "layers": layer,
    }


def declared_metrics(trace: bool) -> dict[str, str]:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # fail before any work when the program is absent
    import log_analysis_spark.session  # noqa: F401

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    declared = declared_metrics(bool(args.trace))

    from workloads import fresh_dir

    dirs = work_dirs(args.workload)
    fresh_dir(dirs["base"])
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"

    t = time.perf_counter()
    spark, cores = start_session(dirs, bool(args.trace))
    args.session_s = time.perf_counter() - t
    try:
        if args.trace:
            result = run_trace(spark, {n: w() for n, w in WORKLOADS.items()}, args, dirs, cores)
            metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in declared.items()}
        else:
            result = run_e2e(spark, WORKLOADS[args.workload](), args, dirs, cores)
            metrics = result["metrics"]
    finally:
        stop_session(spark)
        fresh_dir(dirs["data"])
        fresh_dir(dirs["out"])

    with open(os.path.join(dirs["base"], "result.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for err in result.get("errors", []):
        print(err, file=sys.stderr)
    counts = result.get("detail", {}).get("counts", {})
    for name, m in metrics.items():
        n = counts.get(name, 1)
        print(f"{args.workload:13s} {name:40s} {m['value']:>16.6g} {m['unit']:10s} n={n}")
    if not args.trace:
        print(f"{args.workload:13s} {'failed_frac':40s} {result['failed_frac']:>16.6g} {'ratio':10s}"
              f" n={result['attempted']}")
        if "detail" in result:
            print(f"{args.workload:13s} batch_phigh_ms is p{result['detail']['batch_phigh_pct']:.1f}")
    ok = result["failed"] == 0 and set(metrics) == set(declared)
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
