"""The north-rule launch shape, as a committed test: zip the package, run
each job via ``spark-submit --py-files`` FROM A FOREIGN CWD (so the package
resolves only from the zip, never from the repo checkout), parse the JSON
result line.  This was smoke-tested manually in round 2; committing it keeps
the spark-submit surface from silently rotting.

A test's launches are a function ``chain(pkg_zip, work)`` named by its
``launches`` marker; the session runs the chains in the background from
its first test on (``tests/conftest.py``), and the test asserts on what
its chain returned."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from log_analysis_spark.session import submit_flags

REPO = Path(__file__).resolve().parents[1]


def _spark_submit(pkg_zip, job, extra, cwd):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    return subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            # get_spark's spark.driver.memory can't apply under spark-submit
            # (the JVM is already up); the default 1g OOMs the longer stage
            # chains, so size the driver here like any real launch would
            "--driver-memory", "4g",
            # likewise get_spark's default JVM options and its local file
            # system: the README launch shape
            "--driver-java-options", "-XX:-DontCompileHugeMethods",
            *submit_flags(),
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(pkg_zip),
            str(REPO / "jobs" / job),
            *extra,
        ],
        cwd=str(cwd), env=env, capture_output=True, text=True, timeout=600,
    )


def _submit(pkg_zip, job, extra, cwd):
    out = _spark_submit(pkg_zip, job, extra, cwd)
    assert out.returncode == 0, out.stderr[-3000:]
    # the job's get_spark found the flags' file system bound, so it warned not
    assert not submit_flags() or "stock file system" not in out.stderr
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stdout[-2000:]
    return json.loads(lines[-1])


def _pipeline_job(pkg_zip, work):
    return _submit(
        pkg_zip,
        "run_pipeline.py",
        ["--sf-dir", "/root/testdata/sf0.001", "--out", str(work / "pipe"),
         "--expect", "--seq-audit", "--seq-audit-max-bad-frac", "0.0"],
        cwd=work,
    )


@pytest.mark.launches(chain=_pipeline_job)
def test_submit_pipeline_job(launched):
    """One clean sf0.001 submit with both input gates on: --expect's
    structural report lands in the summary, --seq-audit writes the sidecar
    and reports zero non-contiguous conversations, and the routed counts
    cover every turn."""
    work, res = launched()
    assert res["n_turns"] > 0
    assert sum(res["per_sink_counts"].values()) == res["n_turns"]
    assert res["expectations"] == {
        "not_null(conv_id)": 0, "not_null(turn_idx)": 0, "not_null(ts)": 0,
        "unique(conv_id,turn_idx)": 0, "min_rows(1)": 0,
    }
    assert res["seq_audit"]["n_convs"] > 0
    assert res["seq_audit"]["n_bad_convs"] == 0
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*), count(*) FILTER (WHERE NOT is_contiguous)"
        f" FROM read_parquet('{work}/pipe/seq_audit/*.parquet')"
    ).fetchone()
    assert n[0] == res["seq_audit"]["n_convs"] and n[1] == 0


def _dedup_job(pkg_zip, work):
    return _submit(
        pkg_zip,
        "run_dedup.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "dd"),
            "--method", "jaccard",
            "--threshold", "0.5",
        ],
        cwd=work,
    )


@pytest.mark.launches(chain=_dedup_job)
def test_submit_dedup_job(launched):
    _, res = launched()
    assert res["n_docs"] == res["n_kept"] + res["n_dropped"]
    assert res["n_kept"] > 0


def _corpus_job(pkg_zip, work):
    # a 3-doc "benchmark" carved from the corpus itself: those docs (and any
    # doc sharing a 5-gram with them) must be decontaminated away
    import duckdb

    bench = work / "bench.parquet"
    duckdb.connect().execute(
        "COPY (SELECT * FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') ORDER BY doc_id LIMIT 3)"
        f" TO '{bench}' (FORMAT PARQUET)"
    )
    return _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "cp"),
            "--budget", "1024",
            "--rates", '{"en": 0.5}',
            "--bench", str(bench),
            "--fuzzy-decontam-threshold", "0.2",
            "--scrub-pii",
        ],
        cwd=work,
    )


@pytest.mark.launches(chain=_corpus_job)
def test_submit_corpus_job(launched):
    _, res = launched()
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


def _full_stage_chain(pkg_zip, work):
    return _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "cp"),
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
        cwd=work,
    )


@pytest.mark.launches(chain=_full_stage_chain)
def test_submit_corpus_job_full_stage_chain(launched):
    """Every round-4 corpus stage on at once: Gopher rules, span dedup
    (filter mode), surprise quality gate, CCNet tiering, NB-classifier
    quality gate, DSIR top-K selection, temperature mixing, leakage-safe
    split, and the vocabulary sidecar — proving the flags compose in one
    spark-submit.  --gopher-min-stopwords 1 because the synthetic corpus
    vocabulary carries exactly one of Gopher's 8 stopwords."""
    work, res = launched()
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
              FROM read_parquet('{work}/cp/shards/**/*.parquet',
                                hive_partitioning=1)
              GROUP BY 1)
            WHERE mx > 1000000 OR mx <= 1000000 - n_copies"""
    ).fetchone()[0]
    assert wbad == 0
    # split partitioning materialized on disk + vocab sidecar written
    shard_dir = work / "cp" / "shards"
    assert any(p.name.startswith("split=") for p in shard_dir.iterdir())
    import duckdb

    vocab = duckdb.connect().execute(
        f"SELECT count(*), min(vocab_rank) FROM read_parquet('{work}/cp/vocab/*.parquet')"
    ).fetchone()
    assert 0 < vocab[0] <= 50 and vocab[1] == 1
    # audit-report sidecar: one row per surviving (source, lang), doc total
    # equals the packed corpus
    rep = duckdb.connect().execute(
        f"SELECT sum(n_docs), count(*) FROM read_parquet('{work}/cp/report/*.parquet')"
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


def _gate_empties_the_corpus(pkg_zip, work):
    return subprocess.run(
        [
            "python", str(REPO / "jobs" / "run_corpus.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "cp"),
            "--classifier-min-mean", "1000.0",
        ],
        cwd=str(REPO), env=dict(os.environ),
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.launches(chain=_gate_empties_the_corpus)
def test_corpus_job_fails_loudly_when_a_gate_empties_the_corpus(launched):
    """A gate strict enough to drop every doc must exit with the per-stage
    counts in the message, not die later with an opaque schema-inference
    error on the empty shards read-back (plain-python launch: the loud
    guard is driver code, no executor path involved)."""
    _, out = launched()
    assert out.returncode != 0
    assert "no documents survived" in out.stderr
    assert '"n_after_classifier": 0' in out.stderr


def _transcript_corpus_job(pkg_zip, work):
    # planted near-dup: conv c3 is a verbatim copy of c1, so the dedup
    # stage must drop exactly one of the pair; --boilerplate-frac 1.0 keeps
    # the copied turns out of the boilerplate strip (they recur in 2 of 3
    # convs, below the all-convs threshold)
    import duckdb

    src = work / "transcripts.parquet"
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
    args = [
        "--input", str(src),
        "--out", str(work / "tc"),
        "--budget", "64",
        "--boilerplate-frac", "1.0",
        "--dedup-threshold", "0.9",
    ]
    # the second, identical run resumes from the manifest
    return [
        _submit(pkg_zip, "run_transcript_corpus.py", args, cwd=work)
        for _ in range(2)
    ]


@pytest.mark.launches(chain=_transcript_corpus_job)
def test_submit_transcript_corpus_job(launched):
    _, (res, res2) = launched()
    assert res["n_docs"] == 3
    assert res["n_neardup_pairs"] == 1  # (c1, c3)
    assert res["n_kept"] == 2 and res["n_dropped"] == 1
    assert res["n_shards"] >= 1 and res["total_tokens"] > 0
    assert "resumed" not in res

    # identical rerun resumes from the manifest: same metrics, no recompute
    assert res2["resumed"] is True
    assert {k: res2[k] for k in res} == res


def _incremental_dedup_job(pkg_zip, work):
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
    con.execute(f"COPY b1 TO '{work}/b1.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY b2 TO '{work}/b2.parquet' (FORMAT PARQUET)")
    # b1, b2, b2 again (resume), then b1 again: an OUT-OF-ORDER resume
    return [
        _submit(
            pkg_zip,
            "run_incremental_dedup.py",
            ["--batch", f"{work}/{b}.parquet", "--state", str(work / "state")],
            cwd=work,
        )
        for b in ("b1", "b2", "b2", "b1")
    ]


@pytest.mark.launches(chain=_incremental_dedup_job)
def test_submit_incremental_dedup_job(launched):
    work, (r1, r2, r3, r4) = launched()
    state = work / "state"
    assert r1["ingest_id"] == 0
    assert r1["n_batch"] == 3 and r1["n_accepted"] == 2
    assert r1["n_rejected_within_batch"] == 1
    assert r1["n_rejected_cross_corpus"] == 0

    assert r2["ingest_id"] == 1
    assert r2["n_accepted"] == 1  # e2 only; e1 matched corpus d1
    assert r2["n_rejected_cross_corpus"] == 1

    # re-submitting increment 2 resumes from the manifest, touches nothing
    assert r3["resumed"] is True and r3["ingest_id"] == 1

    # OUT-OF-ORDER resume: re-submitting increment 1 after increment 2
    # completed must hit ITS historic record (lookup_any, each ingest owns
    # its own output dir) — not re-ingest the batch as a new increment
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

    # every count the job reports rode its writes: recount each increment's
    # outputs from disk
    def recount(table, i, where="true"):
        return dd.sql(
            f"SELECT count(*) FROM read_parquet("
            f"'{state}/{table}/ingest_id={i}/*.parquet') WHERE {where}"
        ).fetchone()[0]

    for r, batch in ((r1, "b1"), (r2, "b2")):
        i = r["ingest_id"]
        on_disk = {
            "n_batch": dd.sql(
                f"SELECT count(*) FROM read_parquet('{work}/{batch}.parquet')"
            ).fetchone()[0],
            "n_accepted": recount("accepted", i),
            "n_rejected_within_batch": recount("rejects", i, "why = 'within_batch'"),
            "n_rejected_cross_corpus": recount("rejects", i, "why = 'cross_corpus'"),
        }
        assert {k: r[k] for k in on_disk} == on_disk
    # a resumed run reprints the original increment's counts
    assert {k: r4[k] for k in r1} == r1


def _compaction_across_sessions(pkg_zip, work):
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
        con.execute(f"COPY {t} TO '{work}/{t}.parquet' (FORMAT PARQUET)")
    state = work / "state"
    common = ["--state", str(state), "--compact-every", "2", "--n-buckets", "4"]

    def ingest(batch):
        return _submit(
            pkg_zip, "run_incremental_dedup.py",
            ["--batch", f"{work}/{batch}.parquet", *common], cwd=work,
        )

    r1, r2 = ingest("b1"), ingest("b2")
    after_r2 = {
        p: (state / p).exists()
        for p in ("sig_store/ingest_id=0", "warehouse", "_compaction.json")
    }
    r3 = ingest("b3")
    drift = _spark_submit(
        pkg_zip, "run_incremental_dedup.py",
        ["--batch", f"{work}/b3.parquet", *common, "--n-hashes", "64"], cwd=work,
    )
    return r1, r2, after_r2, r3, drift


@pytest.mark.launches(chain=_compaction_across_sessions)
def test_submit_incremental_compaction_across_sessions(launched):
    """Auto-compaction fires at --compact-every, prunes the folded
    partitions, and a FRESH spark-submit session (fresh metastore — the
    bucket DDL must re-register from the files + marker alone) still
    rejects cross-corpus duplicates against the compacted state.  A drifted
    LSH knob against the same state dir must refuse to run."""
    _, (r1, r2, after_r2, r3, drift) = launched()
    assert r1["n_accepted"] == 2 and "compacted_upto" not in r1

    assert r2["n_accepted"] == 1
    assert r2["compacted_upto"] == 2          # auto-compaction fired
    assert after_r2 == {
        "sig_store/ingest_id=0": False,       # pruned
        "warehouse": True,
        "_compaction.json": True,
    }

    # fresh session: state is ONLY the compacted bucketed layout; both
    # earlier corpora must still reject their duplicates
    assert r3["n_accepted"] == 1              # f3 only
    assert r3["n_rejected_cross_corpus"] == 2  # f1→d1, f2→e1

    # params drift: refused loudly, state untouched
    assert drift.returncode != 0
    assert "n_hashes" in (drift.stderr + drift.stdout)


def _incremental_embed_job(pkg_zip, work):
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
        con.execute(f"COPY {t} TO '{work}/{t}.parquet' (FORMAT PARQUET)")
    state = work / "estate"
    common = ["--state", str(state), "--compact-every", "1", "--n-buckets", "4"]

    def ingest(batch):
        return _submit(
            pkg_zip, "run_incremental_embed.py",
            ["--batch", f"{work}/{batch}.parquet", *common], cwd=work,
        )

    r1 = ingest("v1")
    after_r1 = {
        p: (state / p).exists() for p in ("unit_store/ingest_id=0", "warehouse")
    }
    r2, r2b = ingest("v2"), ingest("v2")
    drift = _spark_submit(
        pkg_zip, "run_incremental_embed.py",
        ["--batch", f"{work}/v2.parquet", *common, "--n-planes", "32"], cwd=work,
    )
    return r1, after_r1, r2, r2b, drift


@pytest.mark.launches(chain=_incremental_embed_job)
def test_submit_incremental_embed_job(launched):
    """The embedding-ingest job end to end across FRESH spark-submit
    sessions: first batch builds state and auto-compacts (--compact-every 1),
    second batch probes the compacted bucketed state and rejects its
    verbatim copy at exact cosine; a drifted LSH knob refuses to run."""
    _, (r1, after_r1, r2, r2b, drift) = launched()
    assert r1["n_accepted"] == 2
    assert r1["compacted_upto"] == 1
    assert after_r1 == {
        "unit_store/ingest_id=0": False,      # pruned
        "warehouse": True,
    }

    # fresh session against ONLY the compacted layout: the verbatim copy of
    # vector 1 rejects cross-corpus, the orthogonal new vector is admitted
    assert r2["n_accepted"] == 1
    assert r2["n_rejected_cross_corpus"] == 1

    # re-submitting batch 2 resumes from the manifest, ingesting nothing
    assert r2b.get("resumed") is True and r2b["ingest_id"] == r2["ingest_id"]

    # params drift: refused loudly
    assert drift.returncode != 0
    assert "n_planes" in (drift.stderr + drift.stdout)


def _line_strip(pkg_zip, work):
    base = [
        "--sf-dir", "/root/testdata/sf0.001",
        "--budget", "1024",
        "--boilerplate-frac", "0.5",
    ]
    loose = _submit(
        pkg_zip, "run_transcript_corpus.py",
        [*base, "--out", str(work / "loose")], cwd=work,
    )
    stripped = _submit(
        pkg_zip, "run_transcript_corpus.py",
        [*base, "--out", str(work / "strip"), "--strip-line-frac", "0.1"],
        cwd=work,
    )
    return loose, stripped


@pytest.mark.launches(chain=_line_strip)
def test_submit_transcript_corpus_line_strip(launched):
    """--strip-line-frac on the transcripts->corpus job: with the
    turn-level boilerplate strip loosened to 0.5, the line-level strip at
    0.1 removes the sub-threshold recurring lines the turn strip left
    (190 at sf0.001), shrinking total tokens vs the no-strip run of the
    same config."""
    _, (loose, stripped) = launched()
    assert loose["n_lines_removed"] is None
    assert stripped["n_lines_removed"] > 0
    assert stripped["total_tokens"] < loose["total_tokens"]
    assert stripped["n_docs"] == loose["n_docs"]


def _events_analytics_job(pkg_zip, work):
    args = [
        "--sf-dir", "/root/testdata/sf0.001",
        "--out", str(work / "ea"),
        "--skew-frac", "0.05",
        "--burst-trail-hours", "6",
        "--burst-z", "2",
        "--cusum-h", "1",
        "--cusum-k-milli", "100",
        "--hll-p", "6",
        "--attr-conv-type", "purchase",
        "--robust-k-milli", "3500",
    ]
    # the second, identical launch resumes from the manifest
    return [
        _submit(pkg_zip, "run_events_analytics.py", args, cwd=work)
        for _ in range(2)
    ]


@pytest.mark.launches(chain=_events_analytics_job)
def test_submit_events_analytics_job(launched):
    work, (res, res2) = launched()
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

    con = duckdb.connect()
    rep = con.execute(
        f"SELECT count(*), count(est_distinct_hll) "
        f"FROM read_parquet('{work}/ea/report/*.parquet')"
    ).fetchone()
    assert rep[0] == 15 and rep[1] == 15  # HLL column present on every row

    # every count the job reports rode its write: recount each from disk
    def recount(out, where="true", what="count(*)"):
        return con.execute(
            f"SELECT {what} FROM read_parquet('{work}/ea/{out}/*.parquet')"
            f" WHERE {where}"
        ).fetchone()[0]

    on_disk = {
        "n_asof": recount("asof"),
        "n_sliding": recount("sliding"),
        "n_funnel_users": recount("funnel"),
        "n_funnel_completed": recount("funnel", "steps_completed = 3"),
        "n_retention_cells": recount("retention"),
        "n_report_rows": recount("report"),
        "n_ohlc_bars": recount("ohlc"),
        "n_burst_alerts": recount("alerts"),
        "n_drift_alerts": recount("drift"),
        "n_robust_outliers": recount("outliers"),
        "n_attribution_rows": recount("attribution"),
        "n_attributed_convs": recount(
            "attribution", "touch_event_id IS NOT NULL",
            "count(DISTINCT conv_event_id)",
        ),
        "n_profile_rows": recount("profile"),
    }
    assert {k: res[k] for k in on_disk} == on_disk
    # resume: identical options reprint the summary without recompute
    assert res2 == {**res, "resumed": True}


def _expect_gate(pkg_zip, work):
    import duckdb

    bad = work / "bad_turns"
    duckdb.connect().execute(
        "COPY (WITH t AS (SELECT conv_id, turn_idx, role, text, tool, ts FROM ("
        " SELECT 'conv-0' AS conv_id, 1 AS turn_idx, 'user' AS role,"
        " 'x' AS text, '-' AS tool, TIMESTAMP '2024-01-01' AS ts))"
        " SELECT * FROM t UNION ALL SELECT * FROM t)"
        f" TO '{bad}' (FORMAT PARQUET)"
    )
    return subprocess.run(
        ["python", str(REPO / "jobs" / "run_pipeline.py"),
         "--input", str(bad), "--out", str(work / "p2"), "--expect"],
        env=dict(os.environ), capture_output=True, text=True, timeout=300,
    )


@pytest.mark.launches(chain=_expect_gate)
def test_pipeline_expect_gate(launched):
    """--expect on corrupt input (duplicated (conv_id, turn_idx)) fails
    LOUDLY with the violating rule before any pipeline stage writes; the
    clean-input pass is part of test_submit_pipeline_job."""
    _, out = launched()
    assert out.returncode != 0
    assert "unique(conv_id,turn_idx)" in (out.stderr + out.stdout)


def _seq_audit_gate(pkg_zip, work):
    import duckdb

    # gapped stream: drop turn_idx=1 from one conv → non-contiguous
    bad = work / "gap_turns"
    duckdb.connect().execute(
        "COPY (SELECT 'conv-0' AS conv_id, i AS turn_idx, 'user' AS role,"
        " 'x' AS text, '-' AS tool, TIMESTAMP '2024-01-01' AS ts"
        " FROM (SELECT unnest([0, 2, 3]) AS i))"
        f" TO '{bad}' (FORMAT PARQUET)"
    )
    return subprocess.run(
        ["python", str(REPO / "jobs" / "run_pipeline.py"),
         "--input", str(bad), "--out", str(work / "s2"),
         "--seq-audit", "--seq-audit-max-bad-frac", "0.0"],
        env=dict(os.environ), capture_output=True, text=True, timeout=300,
    )


@pytest.mark.launches(chain=_seq_audit_gate)
def test_pipeline_seq_audit_gate(launched):
    """--seq-audit: a gapped input stream under a tight
    --seq-audit-max-bad-frac fails loudly BEFORE the pipeline; the clean
    contiguous audit is part of test_submit_pipeline_job."""
    _, out = launched()
    assert out.returncode != 0
    assert "non-contiguous" in (out.stderr + out.stdout)


def _retrieval_job(pkg_zip, work):
    return _submit(
        pkg_zip,
        "run_retrieval.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "ret"),
            "--query", "hash join table",
            "--query", "slow scan filter",
            "--k", "5",
            "--hybrid",
            "--phrase", "the data",
        ],
        cwd=work,
    )


@pytest.mark.launches(chain=_retrieval_job)
def test_submit_retrieval_job(launched):
    work, res = launched()
    assert res["n_bm25"] > 0 and res["n_jaccard"] > 0
    assert res["n_hybrid"] == 2 * 5  # full top-5 per query
    assert res["n_phrase_docs"] >= 0
    import duckdb

    con = duckdb.connect()
    fused = con.execute(
        f"SELECT query_id, count(*), max(rank) "
        f"FROM read_parquet('{work}/ret/hybrid/*.parquet') GROUP BY 1"
    ).fetchall()
    assert sorted(r[0] for r in fused) == [1, 2]
    assert all(r[1] == 5 and r[2] == 5 for r in fused)
    # every hybrid doc appears in at least one input ranking
    orphan = con.execute(
        f"""SELECT count(*) FROM read_parquet('{work}/ret/hybrid/*.parquet') h
            ANTI JOIN (SELECT query_id, doc_id
                       FROM read_parquet('{work}/ret/bm25/*.parquet')
                       UNION ALL
                       SELECT query_id, doc_id
                       FROM read_parquet('{work}/ret/jaccard/*.parquet')) s
            ON s.query_id = h.query_id AND s.doc_id = h.doc_id"""
    ).fetchone()[0]
    assert orphan == 0


def test_corpus_usage_errors_exit_before_spark(tmp_path):
    """Conflicting flags are usage errors raised at argument parsing: each
    command exits 2 with the usage line, before the JVM starts, so the
    missing --sf-dir is never read."""
    import sys

    for flags in (
        ["--classifier-min-mean", "0", "--classifier-pareto-alpha", "1"],
        ["--rates", '{"en": 0.5}', "--temperature", "2.0"],
        ["--budget-mix-weights", '{"en": 1.0}', "--budget-mix-tokens", "100",
         "--temperature", "2.0"],
        ["--budget-mix-weights", '{"en": 1.0}'],
        ["--fuzzy-decontam-threshold", "0.5"],
    ):
        out = subprocess.run(
            [sys.executable, str(REPO / "jobs" / "run_corpus.py"),
             "--sf-dir", str(tmp_path / "missing"), "--out", str(tmp_path / "x"),
             *flags],
            capture_output=True, text=True, timeout=120,
        )
        assert out.returncode == 2, (flags, out.stderr[-2000:])
        assert out.stderr.startswith("usage: run_corpus.py"), out.stderr[-2000:]


def _budget_mix_job(pkg_zip, work):
    return _submit(
        pkg_zip,
        "run_corpus.py",
        [
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(work / "bm"),
            "--budget", "1024",
            "--budget-mix-weights", '{"en": 0.5, "de": 0.25, "zh": 0.25}',
            "--budget-mix-tokens", "2000",
            "--mix-col", "lang",
            "--pack-order-col", "lang",
        ],
        cwd=work,
    )


@pytest.mark.launches(chain=_budget_mix_job)
def test_submit_corpus_budget_mix_and_ordered_pack(launched):
    """--budget-mix-weights + --budget-mix-tokens replaces the sampling
    stage with the waterfilling planner, and --pack-order-col lang packs
    the stream group-coherently; mutual exclusivity with --temperature is
    enforced."""
    work, res = launched()
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
            f"'{work}/bm/shards/**/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert langs <= {"en", "de", "zh"}

    out = subprocess.run(
        ["python", str(REPO / "jobs" / "run_corpus.py"),
         "--sf-dir", "/root/testdata/sf0.001", "--out", str(work / "x"),
         "--budget-mix-weights", '{"en": 1.0}', "--budget-mix-tokens", "100",
         "--temperature", "2.0"],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and "mutually" in (out.stderr + out.stdout)
