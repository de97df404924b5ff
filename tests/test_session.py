"""The session's local-filesystem convention (``session.NIO_LOCAL_FS``), its
build cache, and the ingests' empty-fixture results."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from ibis_flink_example_spark import session


def _hadoop(spark):
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    return jvm, jvm.org.apache.hadoop.fs, hconf


def _raw_pair(spark):
    """(the session's raw local filesystem, a stock RawLocalFileSystem) on
    the same Hadoop conf, so both apply the same umask."""
    jvm, fs, hconf = _hadoop(spark)
    stock = fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), hconf)
    nio = fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf).getRawFileSystem()
    return fs, nio, stock


def _mode(p) -> int:
    return stat.S_IMODE(os.stat(p).st_mode)


def test_session_writes_through_nio_local_fs(spark, tmp_path):
    """The test session really runs on the NIO filesystem and the
    FileSystem-based checkpoint manager; a silent fallback to the stock
    classes fails here."""
    jvm, fs, hconf = _hadoop(spark)
    local = fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
    assert local.getRawFileSystem().getClass().getName() == session.NIO_LOCAL_FS + "$Raw"
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        fs.Path(str(tmp_path)), hconf
    )
    assert mgr.getClass().getName() == session.FS_CHECKPOINT_MANAGER
    assert session.LOCAL_FS_FALLBACK is None


def test_nio_permissions_match_stock_raw_fs(spark, tmp_path):
    """Files, directories and explicit modes come out the same as with
    Hadoop's stock raw filesystem, the sticky bit included."""
    fs, nio, stock = _raw_pair(spark)
    perm = fs.permission.FsPermission
    for name, raw in (("nio", nio), ("stock", stock)):
        raw.mkdirs(fs.Path(str(tmp_path / name / "d")))
        raw.create(fs.Path(str(tmp_path / name / "f"))).close()
        # explicit permission through create: chmod'ed after the open
        raw.create(
            fs.Path(str(tmp_path / name / "g")), perm.getFileDefault(), True, 4096, 1, 1 << 20, None
        ).close()
    for leaf in ("d", "f", "g"):
        assert _mode(tmp_path / "nio" / leaf) == _mode(tmp_path / "stock" / leaf), leaf
    for symbolic, want in (("-rwx------", 0o700), ("-rw-r--r--", 0o644), ("drwxrwxrwt", 0o1777)):
        for raw, name in ((nio, "nio"), (stock, "stock")):
            raw.setPermission(fs.Path(str(tmp_path / name / "d")), perm.valueOf(symbolic))
            assert _mode(tmp_path / name / "d") == want, (name, symbolic)


def test_nio_set_permission_on_missing_path_raises(spark, tmp_path):
    """A missing path raises an IOException on both filesystems: the stock
    one reports chmod's exit code, the NIO one FileNotFoundException."""
    fs, nio, stock = _raw_pair(spark)
    mode = fs.permission.FsPermission.valueOf("-rwx------")
    raised = {}
    for name, raw in (("nio", nio), ("stock", stock)):
        with pytest.raises(Py4JJavaError) as e:
            raw.setPermission(fs.Path(str(tmp_path / "missing")), mode)
        raised[name] = e.value.java_exception
    io_exc = spark._jvm.java.lang.Class.forName("java.io.IOException")
    assert all(io_exc.isInstance(x) for x in raised.values())
    assert raised["nio"].getClass().getName() == "java.io.FileNotFoundException"


def test_nio_jar_without_javac_falls_back(tmp_path, monkeypatch):
    """No javac: the helper returns no jar, records why and warns; nothing
    is raised."""
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(session, "LOCAL_FS_FALLBACK", None)
    with pytest.warns(UserWarning, match="stock local filesystem"):
        assert session.nio_local_fs_jar(str(tmp_path / "cache")) is None
    assert "javac" in session.LOCAL_FS_FALLBACK


def test_concurrent_cache_builds_publish_one_jar_and_one_zip(tmp_path):
    """Two processes building the jar and the package zip at once into an
    empty cache leave one complete jar, one complete zip and no temp dirs."""
    cache = str(tmp_path / "cache")
    code = (
        "import sys; from ibis_flink_example_spark import session as s; "
        "print(s.nio_local_fs_jar(sys.argv[1])); print(s.package_zip(sys.argv[1]))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, cache], cwd=root, stdout=subprocess.PIPE, text=True
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300)[0].split() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert outs[0] == outs[1]
    jar, zp = outs[0]
    assert sorted(os.listdir(cache)) == sorted([os.path.basename(jar), os.path.basename(zp)])
    with zipfile.ZipFile(jar) as zf:
        assert zf.testzip() is None
        assert "ibis_flink_example_spark/jvm/NioLocalFileSystem$Raw.class" in zf.namelist()
    with zipfile.ZipFile(zp) as zf:
        assert zf.testzip() is None
        assert "ibis_flink_example_spark/session.py" in zf.namelist()


@pytest.mark.parametrize(
    "name, source",
    [
        ("streaming_decontaminate_ingest", "documents"),
        ("streaming_neardup_ingest", "documents"),
        ("streaming_minhash_neardup_ingest", "documents"),
        ("streaming_exactly_once_sink", "events"),
        ("streaming_semdedup_ingest", "embeddings"),
        ("streaming_kmeans_ingest", "embeddings"),
    ],
)
def test_ingest_on_empty_fixture(spark, sf_dir, tmp_path, name, source):
    """Every replay ingest returns an empty result with the oracle's columns
    when its fixture has no rows, i.e. when no batch wrote a state table."""
    import pyarrow.parquet as pq

    from ibis_flink_example_spark.catalog import FIXTURE_TABLES, table_path
    from ibis_flink_example_spark.queries import ORACLES, QUERIES
    from tests.oracle import run_oracle

    for t in FIXTURE_TABLES:
        src = table_path(sf_dir, t)
        if t == source:
            tbl = pq.read_table(src)
            pq.write_table(tbl.slice(0, 0), table_path(str(tmp_path), t))
        elif os.path.exists(src):
            os.symlink(src, table_path(str(tmp_path), t))
    got = QUERIES[name](spark, str(tmp_path)).toPandas()
    want = run_oracle(ORACLES[name], str(tmp_path))
    assert len(got) == 0 and len(want) == 0
    assert sorted(got.columns) == sorted(want.columns)
