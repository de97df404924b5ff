"""The session's local-filesystem convention (``session.NIO_LOCAL_FS``), its
Python worker daemon (``session.WORKER_DAEMON``), their build cache, and the
ingests' empty-fixture results."""

from __future__ import annotations

import importlib
import os
import stat
import subprocess
import sys
import time
import zipfile
import zipimport

import pytest
from py4j.protocol import Py4JJavaError

from ibis_flink_example_spark import session, worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, cache], cwd=REPO_ROOT, stdout=subprocess.PIPE, text=True
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


def test_cache_prunes_stale_entries_of_the_same_kind(tmp_path):
    """Publishing a new entry removes the same kind's entries unused for
    longer than CACHE_MAX_AGE_S; fresh ones, other kinds and the returned
    entry stay, and a lookup refreshes the entry it returns."""
    cache = tmp_path / "cache"
    cache.mkdir()
    old = time.time() - session.CACHE_MAX_AGE_S - 3600
    entries = {
        "ibis_flink_example_spark-stale.zip": old,
        "ibis_flink_example_spark-fresh.zip": time.time() - 3600,
        "nio-localfs-stale.jar": old,
    }
    for name, mtime in entries.items():
        (cache / name).write_bytes(b"x")
        os.utime(cache / name, (mtime, mtime))
    zp = session.package_zip(str(cache))
    assert sorted(os.listdir(cache)) == sorted(
        [os.path.basename(zp), "ibis_flink_example_spark-fresh.zip", "nio-localfs-stale.jar"]
    )
    os.utime(zp, (old, old))
    assert session.package_zip(str(cache)) == zp
    assert os.stat(zp).st_mtime > time.time() - 3600


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_daemon_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Under the daemon's invalidation an unchanged archive is not re-read,
    and a rewritten one is, so its new module imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_zip_mod_a": "X = 1"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("graft_zip_mod_a").X == 1
        importlib.invalidate_caches()
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n
        _write_zip(archive, {"graft_zip_mod_a": "X = 1", "graft_zip_mod_b": "Y = 2"})
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.import_module("graft_zip_mod_b").Y == 2
    finally:
        for name in ("graft_zip_mod_a", "graft_zip_mod_b"):
            sys.modules.pop(name, None)


def test_session_workers_fork_from_package_daemon(spark):
    """The test session's Python workers run under the package daemon."""

    def tag(rows):
        for pdf in rows:
            yield pdf.assign(daemon=sys.modules["__main__"].__spec__.name)

    assert spark.conf.get("spark.python.daemon.module") == session.WORKER_DAEMON
    got = spark.range(2).mapInPandas(tag, "id long, daemon string").collect()
    assert {r.daemon for r in got} == {session.WORKER_DAEMON}


def test_daemon_imports_from_any_cwd(tmp_path):
    """From a cwd outside the repo with PYTHONPATH unset, a get_spark
    session's mapInPandas runs: the daemon comes from the package zip on
    the executors' PYTHONPATH."""
    code = f"""
import sys
sys.path.insert(0, {REPO_ROOT!r})
from ibis_flink_example_spark.session import get_spark

def tag(rows):
    for pdf in rows:
        yield pdf.assign(daemon=sys.modules["__main__"].__spec__.name)

spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.memory": "512m", "spark.ui.enabled": "false"}})
rows = spark.range(3).mapInPandas(tag, "id long, daemon string").collect()
print(sorted(r.id for r in rows), {{r.daemon for r in rows}})
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == f"[0, 1, 2] {{{session.WORKER_DAEMON!r}}}"


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
