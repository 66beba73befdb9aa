from __future__ import annotations

import sys
import zipfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from log_analysis_spark.session import get_spark  # noqa: E402


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "launches(chain): the test asserts on chain(pkg_zip, work), a run of "
        "job launches in processes of their own (see the launches fixture)",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def transcripts(spark, sf_dir):
    from log_analysis_spark.datagen import transcripts_from_events

    df = transcripts_from_events(spark, sf_dir).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def pkg_zip(tmp_path_factory):
    """The package zipped as ``spark-submit --py-files`` ships it."""
    zpath = tmp_path_factory.mktemp("submit") / "log_analysis_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in (REPO / "log_analysis_spark").rglob("*.py"):
            if "__pycache__" in f.parts:
                continue
            z.write(f, f.relative_to(REPO))
    return zpath


@pytest.fixture(scope="session", autouse=True)
def launches(request, tmp_path_factory):
    """Start the chain of every selected ``launches`` test when the session
    starts.  A chain spends its time in JVMs of its own, so one worker
    thread runs the chains while the in-process tests run; it takes them
    from the last test backwards, and a test whose chain has not started
    when pytest reaches it runs the chain itself (``Future.cancel`` succeeds
    only on a chain not yet running).  At most one chain runs in the
    background, and each chain's result or error surfaces in its own test."""
    marked = [
        (it.nodeid, it.name, m.kwargs["chain"])
        for it in request.session.items
        if (m := it.get_closest_marker("launches"))
    ]
    started = {}
    if not marked:
        yield started
        return
    pkg = request.getfixturevalue("pkg_zip")
    pool = ThreadPoolExecutor(max_workers=1)
    for nodeid, name, chain in reversed(marked):
        work = tmp_path_factory.mktemp(name)
        started[nodeid] = (chain, work, pool.submit(chain, pkg, work))
    yield started
    pool.shutdown(cancel_futures=True)


@pytest.fixture
def launched(request, launches, pkg_zip):
    """``launched()`` is this test's (work dir, chain result)."""
    def result():
        chain, work, fut = launches[request.node.nodeid]
        if fut.cancel():
            return work, chain(pkg_zip, work)
        return work, fut.result()
    return result
