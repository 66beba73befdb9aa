"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402
from workloads import Sample  # noqa: E402


def declared(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from log_analysis_spark.session import get_spark

    events = tmp_path_factory.mktemp("events")
    s = get_spark(
        "perfbench-test",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(events),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.driver.memory": "1g",
        },
    )
    s.events_dir = str(events)
    yield s
    s.stop()


def test_generator_is_deterministic_per_seed(spark, tmp_path):
    import gen

    spec = gen.InputSpec(n_turns=3000, n_files=2, hot_fraction=0.1,
                         exact_replay_frac=0.1, near_replay_frac=0.1)

    def rows(seed, name):
        info = gen.write_input(spark, spec, seed, str(tmp_path / name))
        return info, sorted(tuple(r) for r in spark.read.parquet(info.path).collect())

    info_a, a = rows(7, "a")
    info_b, b = rows(7, "b")
    _, c = rows(8, "c")
    assert a == b and info_a.summary() == info_b.summary()
    assert info_a.exact_replays == info_b.exact_replays and info_a.exact_replays
    assert a != c


def test_two_stage_groupby_gets_two_stages(spark):
    """Runs last in this module: it stops the session to finish the log."""
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup("known", "two-stage groupBy")
    spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    counters = eventlog.group_counters(eventlog.find_log(spark.events_dir), {"known": "known"})
    assert counters["known"]["stages"] == 2
    assert counters["known"]["shuffle_write_bytes"] > 0
    with pytest.raises(eventlog.EventLogError, match="no stages"):
        eventlog.group_counters(eventlog.find_log(spark.events_dir), {"absent": "absent"})


def test_missing_event_log_raises(tmp_path):
    with pytest.raises(eventlog.EventLogError):
        eventlog.find_log(str(tmp_path))


def test_end_to_end_metric_names_match_benchmark_json():
    samples = [Sample(1.0 + i / 10, [0.5, 0.6], [100.0 + j for j in range(12)]) for i in range(3)]
    setup = {"total_s": 3.0}
    metrics, detail = run.e2e_metrics(1000, samples, setup, 512.0)
    assert set(metrics) == declared("end_to_end")
    assert set(detail["counts"]) == set(metrics)
    assert detail["counts"]["resume_s"] == 6
    assert detail["batch_phigh_pct"] == pytest.approx(100 * 26 / 36)


def test_high_percentile_keeps_ten_samples_beyond():
    values = list(range(1, 101))
    pct, v = run.high_percentile(values)
    assert (pct, v) == (90.0, 90)
    assert sum(x > v for x in values) == 10
    assert run.high_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0)


def test_fails_without_the_program(tmp_path):
    """With only BENCHMARK.json and the benchmark present, the command
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "route_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_traced_run_prints_every_per_layer_metric(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "route_stream",
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == declared("per_layer")
    printed = {line.split()[1] for line in proc.stdout.strip().splitlines()[:-1]}
    assert printed == declared("per_layer")
