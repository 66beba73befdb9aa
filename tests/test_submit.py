"""The north-rule launch shape, as a committed test: zip the package, run
each job via ``spark-submit --py-files`` FROM A FOREIGN CWD (so the package
resolves only from the zip, never from the repo checkout), parse the JSON
result line.  This was smoke-tested manually in round 2; committing it keeps
the spark-submit surface from silently rotting."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def pkg_zip(tmp_path_factory):
    work = tmp_path_factory.mktemp("submit")
    zpath = work / "log_analysis_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in (REPO / "log_analysis_spark").rglob("*.py"):
            if "__pycache__" in f.parts:
                continue
            z.write(f, f.relative_to(REPO))
    return zpath


def _submit(pkg_zip, job, extra, cwd):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            # get_spark's spark.driver.memory can't apply under spark-submit
            # (the JVM is already up); the default 1g OOMs the longer stage
            # chains, so size the driver here like any real launch would
            "--driver-memory", "4g",
            # likewise get_spark's default JVM options: the README launch shape
            "--driver-java-options", "-XX:-DontCompileHugeMethods",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(pkg_zip),
            str(REPO / "jobs" / job),
            *extra,
        ],
        cwd=str(cwd), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stdout[-2000:]
    return json.loads(lines[-1])

def test_submit_pipeline_job(pkg_zip, tmp_path):
    res = _submit(
        pkg_zip,
        "run_pipeline.py",
        ["--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path / "pipe")],
        cwd=tmp_path,
    )
    assert res["n_turns"] > 0
    assert sum(res["per_sink_counts"].values()) == res["n_turns"]


def test_submit_dedup_job(pkg_zip, tmp_path):
    res = _submit(
        pkg_zip,
        "run_dedup.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "dd"),
            "--method", "jaccard",
            "--threshold", "0.5",
        ],
        cwd=tmp_path,
    )
    assert res["n_docs"] == res["n_kept"] + res["n_dropped"]
    assert res["n_kept"] > 0


def test_submit_corpus_job(pkg_zip, tmp_path):
    # a 3-doc "benchmark" carved from the corpus itself: those docs (and any
    # doc sharing a 5-gram with them) must be decontaminated away
    import duckdb

    bench = tmp_path / "bench.parquet"
    duckdb.connect().execute(
        "COPY (SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') ORDER BY doc_id LIMIT 3)"
        f" TO '{bench}' (FORMAT PARQUET)"
    )
    res = _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "cp"),
            "--budget", "1024",
            "--rates", '{"en": 0.5}',
            "--bench", str(bench),
            "--fuzzy-decontam-threshold", "0.2",
            "--scrub-pii",
        ],
        cwd=tmp_path,
    )
    assert (
        res["n_input"]
        >= res["n_after_repetition_filter"]
        >= res["n_after_decontamination"]
        >= res["n_after_fuzzy_decontam"]
        >= res["n_after_sampling"]
    )
    # the benchmark docs themselves are in the corpus → at least 3 removed
    assert res["n_after_decontamination"] <= res["n_after_repetition_filter"] - 3
    # the fuzzy gate composes after the exact gate (near-dups of the bench
    # docs that dodged the 5-gram collision at this corpus go here; it may
    # legitimately be a no-op on a given corpus, but never grows the set)
    assert res["n_after_fuzzy_decontam"] <= res["n_after_decontamination"]
    assert res["n_after_sampling"] > 0 and res["n_shards"] > 0
    # shard count accounting: shard = floor(exclusive_cumsum / budget), so
    # the last shard index is within one doc's tokens of total/budget
    assert res["n_shards"] <= res["total_tokens"] // 1024 + 1


def test_submit_corpus_job_full_stage_chain(pkg_zip, tmp_path):
    """Every round-4 corpus stage on at once: Gopher rules, span dedup
    (filter mode), surprise quality gate, CCNet tiering, NB-classifier
    quality gate, DSIR top-K selection, temperature mixing, leakage-safe
    split, and the vocabulary sidecar — proving the flags compose in one
    spark-submit.  --gopher-min-stopwords 1 because the synthetic corpus
    vocabulary carries exactly one of Gopher's 8 stopwords."""
    res = _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "cp"),
            "--budget", "1024",
            "--gopher",
            "--gopher-min-words", "5",
            "--gopher-min-stopwords", "1",
            "--ppl-keep", "0,1",
            "--badwords", "vector",
            "--badwords-max", "2",
            "--span-k", "3",
            "--span-action", "filter",
            "--span-max-coverage", "0.9",
            "--max-surprise", "20.0",
            "--max-loop-frac", "0.9",
            "--min-ttr", "0.3",
            "--max-bigram-surprise", "20.0",
            "--classifier-min-mean", "-10.0",
            "--classifier-target", "lang = 'en'",
            "--classifier-buckets", "4096",
            "--dsir-top", "300",
            "--dsir-target", "lang = 'en'",
            "--temperature", "2.0",
            "--target-fraction", "0.8",
            "--split-eval-frac", "0.25",
            "--vocab-top", "50",
            "--soft-dedup",
            "--report",
        ],
        cwd=tmp_path,
    )
    assert (
        res["n_input"]
        >= res["n_after_repetition_filter"]
        >= res["n_after_gopher"]
        >= res["n_after_badwords"]
        >= res["n_after_span_dedup"]
        >= res["n_after_loop_gate"]
        >= res["n_after_ttr_gate"]
        >= res["n_after_ppl_tiering"]
        >= res["n_after_classifier"]
        >= res["n_after_dsir"]
        >= res["n_after_sampling"]
        > 0
    )
    # the gates actually bite on this corpus (not pass-through)
    assert res["n_after_gopher"] < res["n_after_repetition_filter"]
    assert res["n_after_badwords"] < res["n_after_gopher"]
    assert res["n_after_ppl_tiering"] < res["n_after_span_dedup"]
    assert res["n_after_dsir"] <= 300
    assert res["n_shards"] > 0 and res["total_tokens"] > 0
    assert res["n_eval"] is not None and 0 <= res["n_eval"] < res["n_after_sampling"]
    # SoftDedup weights ride the shards: every doc weighted, group mass
    # n * (1e6 div n) <= 1e6
    assert res["n_soft_dup_docs"] is not None
    import duckdb as _d

    wbad = _d.connect().execute(
        f"""SELECT count(*) FROM (
              SELECT n_copies, max(n_copies * weight_micro) AS mx
              FROM read_parquet('{tmp_path}/cp/shards/**/*.parquet',
                                hive_partitioning=1)
              GROUP BY 1)
            WHERE mx > 1000000 OR mx <= 1000000 - n_copies"""
    ).fetchone()[0]
    assert wbad == 0
    # split partitioning materialized on disk + vocab sidecar written
    shard_dir = tmp_path / "cp" / "shards"
    assert any(p.name.startswith("split=") for p in shard_dir.iterdir())
    import duckdb

    vocab = duckdb.connect().execute(
        f"SELECT count(*), min(vocab_rank) FROM read_parquet('{tmp_path}/cp/vocab/*.parquet')"
    ).fetchone()
    assert 0 < vocab[0] <= 50 and vocab[1] == 1
    # audit-report sidecar: one row per surviving (source, lang), doc total
    # equals the packed corpus
    rep = duckdb.connect().execute(
        f"SELECT sum(n_docs), count(*) FROM read_parquet('{tmp_path}/cp/report/*.parquet')"
    ).fetchone()
    assert rep[0] == res["n_after_sampling"] and rep[1] > 0


def test_corpus_job_domain_blocklist_gate(tmp_path, spark):
    """--block-domains drops exactly the docs citing a blocked registered
    domain (incl. a subdomain of it) and reports the stage count.  Runs on
    a purpose-built docs table because the synthetic corpus carries no
    URLs (plain-python launch, driver-side gate)."""
    body = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (i,
         body + (
             f" see https://ads.tracker.com/r/{i}" if i % 3 == 0
             else f" see https://files.archive.org/r/{i}"
         ),
         "en", "webA")
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text"))
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    out = subprocess.run(
        [
            "python", str(REPO / "jobs" / "run_corpus.py"),
            "--docs", str(tmp_path / "docs"),
            "--out", str(tmp_path / "cp"),
            "--no-repetition-filter",
            "--block-domains", "tracker.com,spam.biz",
        ],
        cwd=str(REPO), env=dict(os.environ),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(
        [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert res["n_input"] == 60
    assert res["n_after_domain_blocklist"] == 40  # every i % 3 == 0 dropped
    assert res["n_after_sampling"] == 40


def test_corpus_job_fails_loudly_when_a_gate_empties_the_corpus(tmp_path):
    """A gate strict enough to drop every doc must exit with the per-stage
    counts in the message, not die later with an opaque schema-inference
    error on the empty shards read-back (plain-python launch: the loud
    guard is driver code, no executor path involved)."""
    env = dict(os.environ)
    out = subprocess.run(
        [
            "python", str(REPO / "jobs" / "run_corpus.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "cp"),
            "--classifier-min-mean", "1000.0",
        ],
        cwd=str(REPO), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode != 0
    assert "no documents survived" in out.stderr
    assert '"n_after_classifier": 0' in out.stderr


def test_submit_transcript_corpus_job(pkg_zip, tmp_path):
    # planted near-dup: conv c3 is a verbatim copy of c1, so the dedup
    # stage must drop exactly one of the pair; --boilerplate-frac 1.0 keeps
    # the copied turns out of the boilerplate strip (they recur in 2 of 3
    # convs, below the all-convs threshold)
    import duckdb

    src = tmp_path / "transcripts.parquet"
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE t (conv_id VARCHAR, turn_idx INTEGER, role VARCHAR,
                        text VARCHAR, tool VARCHAR, ts TIMESTAMP);
        INSERT INTO t
        SELECT 'c' || c, i, 'user',
               CASE WHEN c = 2
                    THEN 'unrelated payload line ' || i || ' about topic ' || i*7
                    ELSE 'shared conversation body line ' || i || ' with details'
               END,
               '-', TIMESTAMP '2024-01-01' + INTERVAL (i) MINUTE
        FROM range(1, 4) r(c), range(0, 4) s(i)
        """
    )
    con.execute(f"COPY t TO '{src}' (FORMAT PARQUET)")
    res = _submit(
        pkg_zip,
        "run_transcript_corpus.py",
        [
            "--input", str(src),
            "--out", str(tmp_path / "tc"),
            "--budget", "64",
            "--boilerplate-frac", "1.0",
            "--dedup-threshold", "0.9",
        ],
        cwd=tmp_path,
    )
    assert res["n_docs"] == 3
    assert res["n_neardup_pairs"] == 1  # (c1, c3)
    assert res["n_kept"] == 2 and res["n_dropped"] == 1
    assert res["n_shards"] >= 1 and res["total_tokens"] > 0
    assert "resumed" not in res

    # identical rerun resumes from the manifest: same metrics, no recompute
    res2 = _submit(
        pkg_zip,
        "run_transcript_corpus.py",
        [
            "--input", str(src),
            "--out", str(tmp_path / "tc"),
            "--budget", "64",
            "--boilerplate-frac", "1.0",
            "--dedup-threshold", "0.9",
        ],
        cwd=tmp_path,
    )
    assert res2["resumed"] is True
    assert {k: res2[k] for k in res} == res


def test_submit_incremental_dedup_job(pkg_zip, tmp_path):
    # increment 1: two distinct docs (one with an in-batch twin);
    # increment 2: one verbatim copy of a doc from increment 1 + one new doc
    import duckdb

    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE b1 (doc_id VARCHAR, text VARCHAR);
        INSERT INTO b1 VALUES
          ('d1', 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
          ('d2', 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
          ('d3', 'one two three four five six seven eight nine ten eleven');
        CREATE TABLE b2 (doc_id VARCHAR, text VARCHAR);
        INSERT INTO b2 VALUES
          ('e1', 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
          ('e2', 'red orange yellow green blue indigo violet crimson amber teal');
        """
    )
    con.execute(f"COPY b1 TO '{tmp_path}/b1.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY b2 TO '{tmp_path}/b2.parquet' (FORMAT PARQUET)")
    state = tmp_path / "state"

    r1 = _submit(
        pkg_zip,
        "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b1.parquet", "--state", str(state)],
        cwd=tmp_path,
    )
    assert r1["ingest_id"] == 0
    assert r1["n_batch"] == 3 and r1["n_accepted"] == 2
    assert r1["n_rejected_within_batch"] == 1
    assert r1["n_rejected_cross_corpus"] == 0

    r2 = _submit(
        pkg_zip,
        "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b2.parquet", "--state", str(state)],
        cwd=tmp_path,
    )
    assert r2["ingest_id"] == 1
    assert r2["n_accepted"] == 1  # e2 only; e1 matched corpus d1
    assert r2["n_rejected_cross_corpus"] == 1

    # re-submitting increment 2 resumes from the manifest, touches nothing
    r3 = _submit(
        pkg_zip,
        "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b2.parquet", "--state", str(state)],
        cwd=tmp_path,
    )
    assert r3["resumed"] is True and r3["ingest_id"] == 1

    # OUT-OF-ORDER resume: re-submitting increment 1 after increment 2
    # completed must hit ITS historic record (lookup_any, each ingest owns
    # its own output dir) — not re-ingest the batch as a new increment
    r4 = _submit(
        pkg_zip,
        "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b1.parquet", "--state", str(state)],
        cwd=tmp_path,
    )
    assert r4["resumed"] is True and r4["ingest_id"] == 0

    # accepted corpus across increments = {d1, d3, e2}
    import duckdb as dd
    got = {
        r[0]
        for r in dd.sql(
            f"SELECT doc_id FROM read_parquet('{state}/accepted/*/*.parquet')"
        ).fetchall()
    }
    assert got == {"d1", "d3", "e2"}


def test_submit_incremental_compaction_across_sessions(pkg_zip, tmp_path):
    """Auto-compaction fires at --compact-every, prunes the folded
    partitions, and a FRESH spark-submit session (fresh metastore — the
    bucket DDL must re-register from the files + marker alone) still
    rejects cross-corpus duplicates against the compacted state.  A drifted
    LSH knob against the same state dir must refuse to run."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE b1 (doc_id VARCHAR, text VARCHAR);
        INSERT INTO b1 VALUES
          ('d1', 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
          ('d2', 'one two three four five six seven eight nine ten eleven');
        CREATE TABLE b2 (doc_id VARCHAR, text VARCHAR);
        INSERT INTO b2 VALUES
          ('e1', 'red orange yellow green blue indigo violet crimson amber teal');
        CREATE TABLE b3 (doc_id VARCHAR, text VARCHAR);
        INSERT INTO b3 VALUES
          ('f1', 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
          ('f2', 'red orange yellow green blue indigo violet crimson amber teal'),
          ('f3', 'brand new content nothing like anything ingested before today');
        """
    )
    for t in ("b1", "b2", "b3"):
        con.execute(f"COPY {t} TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)")
    state = tmp_path / "state"
    common = ["--state", str(state), "--compact-every", "2", "--n-buckets", "4"]

    r1 = _submit(
        pkg_zip, "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b1.parquet", *common], cwd=tmp_path,
    )
    assert r1["n_accepted"] == 2 and "compacted_upto" not in r1

    r2 = _submit(
        pkg_zip, "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b2.parquet", *common], cwd=tmp_path,
    )
    assert r2["n_accepted"] == 1
    assert r2["compacted_upto"] == 2          # auto-compaction fired
    assert not (state / "sig_store" / "ingest_id=0").exists()  # pruned
    assert (state / "warehouse").exists()
    assert (state / "_compaction.json").exists()

    # fresh session: state is ONLY the compacted bucketed layout; both
    # earlier corpora must still reject their duplicates
    r3 = _submit(
        pkg_zip, "run_incremental_dedup.py",
        ["--batch", f"{tmp_path}/b3.parquet", *common], cwd=tmp_path,
    )
    assert r3["n_accepted"] == 1              # f3 only
    assert r3["n_rejected_cross_corpus"] == 2  # f1→d1, f2→e1

    # params drift: refused loudly, state untouched
    import subprocess as sp

    spark_submit = shutil.which("spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = sp.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(pkg_zip),
            str(REPO / "jobs" / "run_incremental_dedup.py"),
            "--batch", f"{tmp_path}/b3.parquet", *common, "--n-hashes", "64",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode != 0
    assert "n_hashes" in (out.stderr + out.stdout)


def test_submit_incremental_embed_job(pkg_zip, tmp_path):
    """The embedding-ingest job end to end across FRESH spark-submit
    sessions: first batch builds state and auto-compacts (--compact-every 1),
    second batch probes the compacted bucketed state and rejects its
    verbatim copy at exact cosine; a drifted LSH knob refuses to run."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE v1 (vec_id BIGINT, embedding FLOAT[]);
        INSERT INTO v1 VALUES
          (1, [1.0, 0.0, 0.0, 0.0]::FLOAT[]),
          (2, [0.0, 1.0, 0.0, 0.0]::FLOAT[]);
        CREATE TABLE v2 (vec_id BIGINT, embedding FLOAT[]);
        INSERT INTO v2 VALUES
          (10, [1.0, 0.0, 0.0, 0.0]::FLOAT[]),
          (11, [0.0, 0.0, 1.0, 0.0]::FLOAT[]);
        """
    )
    for t in ("v1", "v2"):
        con.execute(f"COPY {t} TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)")
    state = tmp_path / "estate"
    common = ["--state", str(state), "--compact-every", "1", "--n-buckets", "4"]

    r1 = _submit(
        pkg_zip, "run_incremental_embed.py",
        ["--batch", f"{tmp_path}/v1.parquet", *common], cwd=tmp_path,
    )
    assert r1["n_accepted"] == 2
    assert r1["compacted_upto"] == 1
    assert not (state / "unit_store" / "ingest_id=0").exists()  # pruned
    assert (state / "warehouse").exists()

    # fresh session against ONLY the compacted layout: the verbatim copy of
    # vector 1 rejects cross-corpus, the orthogonal new vector is admitted
    r2 = _submit(
        pkg_zip, "run_incremental_embed.py",
        ["--batch", f"{tmp_path}/v2.parquet", *common], cwd=tmp_path,
    )
    assert r2["n_accepted"] == 1
    assert r2["n_rejected_cross_corpus"] == 1

    # re-submitting batch 2 resumes from the manifest, ingesting nothing
    r2b = _submit(
        pkg_zip, "run_incremental_embed.py",
        ["--batch", f"{tmp_path}/v2.parquet", *common], cwd=tmp_path,
    )
    assert r2b.get("resumed") is True and r2b["ingest_id"] == r2["ingest_id"]

    # params drift: refused loudly
    spark_submit = shutil.which("spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(pkg_zip),
            str(REPO / "jobs" / "run_incremental_embed.py"),
            "--batch", f"{tmp_path}/v2.parquet", *common, "--n-planes", "32",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode != 0
    assert "n_planes" in (out.stderr + out.stdout)


def test_submit_transcript_corpus_line_strip(pkg_zip, tmp_path):
    """--strip-line-frac on the transcripts->corpus job: with the
    turn-level boilerplate strip loosened to 0.5, the line-level strip at
    0.1 removes the sub-threshold recurring lines the turn strip left
    (190 at sf0.001), shrinking total tokens vs the no-strip run of the
    same config."""
    base = [
        "--sf-dir", "/root/testdata/sf0.001",
        "--budget", "1024",
        "--boilerplate-frac", "0.5",
    ]
    loose = _submit(
        pkg_zip, "run_transcript_corpus.py",
        [*base, "--out", str(tmp_path / "loose")], cwd=tmp_path,
    )
    stripped = _submit(
        pkg_zip, "run_transcript_corpus.py",
        [*base, "--out", str(tmp_path / "strip"), "--strip-line-frac", "0.1"],
        cwd=tmp_path,
    )
    assert loose["n_lines_removed"] is None
    assert stripped["n_lines_removed"] > 0
    assert stripped["total_tokens"] < loose["total_tokens"]
    assert stripped["n_docs"] == loose["n_docs"]


def test_submit_events_analytics_job(pkg_zip, tmp_path):
    res = _submit(
        pkg_zip,
        "run_events_analytics.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "ea"),
            "--skew-frac", "0.05",
            "--burst-trail-hours", "6",
            "--burst-z", "2",
            "--cusum-h", "1",
            "--cusum-k-milli", "100",
            "--hll-p", "6",
            "--robust-k-milli", "3500",
            "--attr-conv-type", "purchase",
        ],
        cwd=tmp_path,
    )
    assert res["n_events"] == 1000
    # attribution stage bites: >= one row per purchase (~200 of 1000
    # events), and a nonempty attributed subset
    assert res["n_attribution_rows"] >= 150
    assert 0 < res["n_attributed_convs"] <= res["n_attribution_rows"]
    assert res["n_asof"] > 0 and res["n_sliding"] > 0
    assert res["n_funnel_users"] == 15
    assert 0 < res["n_funnel_completed"] <= res["n_funnel_users"]
    assert res["n_report_rows"] == 15  # 5 event types x 3 quantiles
    assert res["n_ohlc_bars"] > 0 and res["n_profile_rows"] == 2
    assert res["n_burst_alerts"] >= 0  # alerts/ output written
    assert res["n_drift_alerts"] > 0   # drift/ output written, CUSUM bites
    assert res["n_robust_outliers"] > 0  # outliers/ written, MAD gate bites
    import duckdb

    rep = duckdb.connect().execute(
        f"SELECT count(*), count(est_distinct_hll) "
        f"FROM read_parquet('{tmp_path}/ea/report/*.parquet')"
    ).fetchone()
    assert rep[0] == 15 and rep[1] == 15  # HLL column present on every row
    # resume: same knobs reprint the summary without recompute
    res2 = _submit(
        pkg_zip,
        "run_events_analytics.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "ea"),
            "--skew-frac", "0.05",
            "--burst-trail-hours", "6",
            "--burst-z", "2",
            "--cusum-h", "1",
            "--cusum-k-milli", "100",
            "--hll-p", "6",
            "--attr-conv-type", "purchase",
        ],
        cwd=tmp_path,
    )
    assert res2.get("resumed") is True and res2["n_asof"] == res["n_asof"]


def test_pipeline_expect_gate(pkg_zip, tmp_path):
    """--expect: clean input passes and the report lands in the summary;
    corrupt input (duplicated (conv_id, turn_idx)) fails LOUDLY with the
    violating rule before any pipeline stage writes."""
    res = _submit(
        pkg_zip,
        "run_pipeline.py",
        ["--sf-dir", "/root/testdata/sf0.001",
         "--out", str(tmp_path / "p1"), "--expect"],
        cwd=tmp_path,
    )
    assert res["expectations"] == {
        "not_null(conv_id)": 0, "not_null(turn_idx)": 0, "not_null(ts)": 0,
        "unique(conv_id,turn_idx)": 0, "min_rows(1)": 0,
    }
    # corrupt: duplicate a turn key
    import duckdb

    bad = tmp_path / "bad_turns"
    duckdb.connect().execute(
        "COPY (WITH t AS (SELECT conv_id, turn_idx, role, text, tool, ts FROM ("
        " SELECT 'conv-0' AS conv_id, 1 AS turn_idx, 'user' AS role,"
        " 'x' AS text, '-' AS tool, TIMESTAMP '2024-01-01' AS ts))"
        " SELECT * FROM t UNION ALL SELECT * FROM t)"
        f" TO '{bad}' (FORMAT PARQUET)"
    )
    env = dict(os.environ)
    out = subprocess.run(
        ["python", str(REPO / "jobs" / "run_pipeline.py"),
         "--input", str(bad), "--out", str(tmp_path / "p2"), "--expect"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0
    assert "unique(conv_id,turn_idx)" in (out.stderr + out.stdout)


def test_pipeline_seq_audit_gate(pkg_zip, tmp_path):
    """--seq-audit: clean derived turns audit fully contiguous (sidecar
    written + zero bad convs in the summary); a gapped input stream under
    a tight --seq-audit-max-bad-frac fails loudly BEFORE the pipeline."""
    res = _submit(
        pkg_zip,
        "run_pipeline.py",
        ["--sf-dir", "/root/testdata/sf0.001",
         "--out", str(tmp_path / "s1"), "--seq-audit",
         "--seq-audit-max-bad-frac", "0.0"],
        cwd=tmp_path,
    )
    assert res["seq_audit"]["n_convs"] > 0
    assert res["seq_audit"]["n_bad_convs"] == 0
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*), count(*) FILTER (WHERE NOT is_contiguous)"
        f" FROM read_parquet('{tmp_path}/s1/seq_audit/*.parquet')"
    ).fetchone()
    assert n[0] == res["seq_audit"]["n_convs"] and n[1] == 0

    # gapped stream: drop turn_idx=1 from one conv → non-contiguous
    bad = tmp_path / "gap_turns"
    duckdb.connect().execute(
        "COPY (SELECT 'conv-0' AS conv_id, i AS turn_idx, 'user' AS role,"
        " 'x' AS text, '-' AS tool, TIMESTAMP '2024-01-01' AS ts"
        " FROM (SELECT unnest([0, 2, 3]) AS i))"
        f" TO '{bad}' (FORMAT PARQUET)"
    )
    env = dict(os.environ)
    out = subprocess.run(
        ["python", str(REPO / "jobs" / "run_pipeline.py"),
         "--input", str(bad), "--out", str(tmp_path / "s2"),
         "--seq-audit", "--seq-audit-max-bad-frac", "0.0"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode != 0
    assert "non-contiguous" in (out.stderr + out.stdout)


def test_submit_retrieval_job(pkg_zip, tmp_path):
    res = _submit(
        pkg_zip,
        "run_retrieval.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "ret"),
            "--query", "hash join table",
            "--query", "slow scan filter",
            "--k", "5",
            "--hybrid",
            "--phrase", "the data",
        ],
        cwd=tmp_path,
    )
    assert res["n_bm25"] > 0 and res["n_jaccard"] > 0
    assert res["n_hybrid"] == 2 * 5  # full top-5 per query
    assert res["n_phrase_docs"] >= 0
    import duckdb

    con = duckdb.connect()
    fused = con.execute(
        f"SELECT query_id, count(*), max(rank) "
        f"FROM read_parquet('{tmp_path}/ret/hybrid/*.parquet') GROUP BY 1"
    ).fetchall()
    assert sorted(r[0] for r in fused) == [1, 2]
    assert all(r[1] == 5 and r[2] == 5 for r in fused)
    # every hybrid doc appears in at least one input ranking
    orphan = con.execute(
        f"""SELECT count(*) FROM read_parquet('{tmp_path}/ret/hybrid/*.parquet') h
            ANTI JOIN (SELECT query_id, doc_id
                       FROM read_parquet('{tmp_path}/ret/bm25/*.parquet')
                       UNION ALL
                       SELECT query_id, doc_id
                       FROM read_parquet('{tmp_path}/ret/jaccard/*.parquet')) s
            ON s.query_id = h.query_id AND s.doc_id = h.doc_id"""
    ).fetchone()[0]
    assert orphan == 0


def test_submit_corpus_budget_mix_and_ordered_pack(pkg_zip, tmp_path):
    """--budget-mix-weights + --budget-mix-tokens replaces the sampling
    stage with the waterfilling planner, and --pack-order-col lang packs
    the stream group-coherently; mutual exclusivity with --temperature is
    enforced."""
    res = _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "bm"),
            "--budget", "1024",
            "--budget-mix-weights", '{"en": 0.5, "de": 0.25, "zh": 0.25}',
            "--budget-mix-tokens", "2000",
            "--mix-col", "lang",
            "--pack-order-col", "lang",
        ],
        cwd=tmp_path,
    )
    assert 0 < res["n_after_sampling"] < res["n_input"]
    # the budget bound holds (greedy prefix can overshoot per group by at
    # most one doc; bound by budget + |groups| * max doc length, and the
    # unweighted langs contribute nothing)
    assert res["total_tokens"] <= 2000 + 3 * 200
    import duckdb

    langs = {
        r[0]
        for r in duckdb.connect().execute(
            f"SELECT DISTINCT lang FROM read_parquet("
            f"'{tmp_path}/bm/shards/**/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert langs <= {"en", "de", "zh"}

    out = subprocess.run(
        ["python", str(REPO / "jobs" / "run_corpus.py"),
         "--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path / "x"),
         "--budget-mix-weights", '{"en": 1.0}', "--budget-mix-tokens", "100",
         "--temperature", "2.0"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and "mutually" in (out.stderr + out.stdout)
