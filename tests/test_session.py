"""The local file system ``get_spark`` binds (``jvm/NioLocalFileSystem.java``):
what it resolves to, and that its files, modes, checksums and symlink
statuses are what Hadoop's stock local file system gives."""

from __future__ import annotations

import logging
import os
import stat
import zipfile

import pytest
from pyspark import SparkContext

from log_analysis_spark import session


def _hadoop(spark):
    jvm = spark._jvm
    return jvm, jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()


def _modes(root: str) -> dict[str, int]:
    """Permission bits of ``root``'s entries (itself excluded), by path."""
    found = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            found[path] = stat.S_IMODE(os.lstat(path).st_mode)
    return found


def test_file_scheme_resolves_to_the_nio_classes(spark):
    jvm, uri, conf = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == session.NIO_FS
    assert fs.getRaw().getClass().getName() == session.NIO_FS + "$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == session.NIO_FS + "$Fs"


def test_routed_write_and_stream_checkpoint_modes(spark, transcripts, tmp_path):
    """Every file and directory of a partitioned write and of a stream's
    output and checkpoint has the mode stock Hadoop gives under
    ``fs.permissions.umask-mode`` 022: 0755 for a directory, 0644 for a
    file; every data file has its ``.crc``."""
    from log_analysis_spark.functions.parse import parse_turns_native
    from log_analysis_spark.operators import router
    from log_analysis_spark.streaming.stream_pipeline import run_stream_routed

    _, _, conf = _hadoop(spark)
    assert conf.get("fs.permissions.umask-mode", "022") == "022"
    routed = str(tmp_path / "routed")
    router.route_write(
        router.tag_sinks(parse_turns_native(transcripts), router.default_rules()), routed
    )
    src, out = str(tmp_path / "src"), str(tmp_path / "stream")
    transcripts.repartition(3).write.parquet(src)
    run_stream_routed(spark, src, out)
    assert os.path.isdir(f"{out}/_checkpoint/offsets")

    for root in (routed, out):
        modes = _modes(root)
        want = {p: 0o755 if os.path.isdir(p) else 0o644 for p in modes}
        assert modes == want
        data = [p for p in modes if p.endswith(".parquet")]
        assert data
        for p in data:
            head, name = os.path.split(p)
            assert os.path.isfile(os.path.join(head, f".{name}.crc")), p


def test_corrupted_crc_fails_the_read(spark, transcripts, tmp_path):
    out = str(tmp_path / "t")
    transcripts.limit(50).coalesce(1).write.parquet(out)
    (data,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
    crc = os.path.join(out, f".{data}.crc")
    with open(crc, "r+b") as f:  # 8-byte header, then one CRC32 per chunk
        f.seek(8)
        first = f.read(1)
        f.seek(8)
        f.write(bytes([first[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(out).collect()


def test_link_status_matches_stock_raw_fs(spark, tmp_path):
    """``getFileLinkStatus`` skips the readlink fork only for non-links: a
    symlink still reports ``isSymlink()`` and its target, and every status
    equals the stock ``RawLocalFileSystem``'s."""
    jvm, uri, conf = _hadoop(spark)
    ours = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getRaw()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(uri, conf)
    (tmp_path / "d").mkdir()
    (tmp_path / "f").write_text("x")
    os.symlink(tmp_path / "f", tmp_path / "link")

    def status(fs, name):
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / name)))
        link = st.getSymlink().toString() if st.isSymlink() else None
        return st.isSymlink(), link, st.isDirectory(), st.getLen(), st.getPath().toString()

    link = status(ours, "link")
    assert link[:2] == (True, f"file:{tmp_path}/f")
    for name in ("d", "f", "link"):
        assert status(ours, name) == status(stock, name)
    with pytest.raises(Exception, match="FileNotFoundException"):
        ours.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing")))


def test_set_permission_matches_stock_chmod(spark, tmp_path):
    """The nio ``setPermission`` sets the same mode as stock Hadoop's
    forked ``chmod``; a sticky mode goes to the stock code."""
    jvm, uri, conf = _hadoop(spark)
    ours = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getRaw()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(uri, conf)
    for mode in (0o600, 0o640, 0o755, 0o777, 0o1777):
        got = []
        for fs, name in ((ours, "ours"), (stock, "stock")):
            p = tmp_path / f"{name}{mode:o}"
            p.mkdir()
            perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            got.append(stat.S_IMODE(os.stat(p).st_mode))
        assert got == [mode, mode]


def test_jar_and_submit_flags():
    jar = session.local_fs_jar()
    assert jar is not None and jar == session.local_fs_jar()
    with zipfile.ZipFile(jar) as z:
        assert {"log_analysis_spark/NioLocalFileSystem.class",
                "log_analysis_spark/NioLocalFileSystem$Raw.class",
                "log_analysis_spark/NioLocalFileSystem$Fs.class"} <= set(z.namelist())
    assert session.submit_flags() == [
        "--driver-class-path", jar,
        "--conf", f"spark.hadoop.fs.file.impl={session.NIO_FS}",
        "--conf", f"spark.hadoop.fs.AbstractFileSystem.file.impl={session.NIO_FS}$Fs",
    ]


def test_binding_only_for_a_local_jvm_this_process_launches(spark, monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    jar = session.local_fs_jar()
    assert session._local_fs_conf("local[2]", None) == {}  # the JVM runs
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session._local_fs_conf("local[2]", "/a.jar") == {
        "spark.driver.extraClassPath": f"/a.jar{os.pathsep}{jar}",
        **session.LOCAL_FS_CONF,
    }
    assert session._local_fs_conf("local", None)["spark.driver.extraClassPath"] == jar
    assert session._local_fs_conf("spark://host:7077", None) == {}
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")  # under spark-submit
    assert session._local_fs_conf("local[2]", None) == {}


def test_without_javac_stock_fs_and_one_warning(monkeypatch, caplog):
    """No compiler: no jar, no flags, and a launch that sets nothing naming
    a class the JVM cannot load, with one warning."""
    monkeypatch.setattr(session, "_javac", lambda: None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session.submit_flags() == []
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._local_fs_conf("local[2]", None) == {}
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    assert "no javac" in caplog.records[0].getMessage()
