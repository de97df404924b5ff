"""SparkSession construction conventions.

The reference configures its engine via ``EnvironmentSettings.in_streaming_mode()``
and ``parallelism.default`` (reference: window_aggregation.py:11-14). Our analog
is a SparkSession builder that bakes in the conventions every query in this
package assumes:

- AQE on (runtime re-planning, partition coalescing, skew-join splitting);
- Arrow on (vectorized Python<->JVM transfer for the few pandas-UDF paths);
- UTC session timezone (fixture timestamps are naive/UTC; keeps DuckDB-oracle
  comparisons and Kafka JSON round-trips stable);
- bounded shuffle partitions for local runs (overridable; on a real cluster AQE
  coalesces from a high initial number);
- local files written through ``jvm/NioLocalFileSystem.java``. Without the
  native Hadoop library, Hadoop's raw local filesystem sets every file's and
  directory's permissions by starting a ``chmod`` process. That puts
  ~1,000 process launches on each round of micro-batch commits: the offset
  and commit logs, the RocksDB state store, and parquet parts with their
  ``.crc`` files. The subclass sets them through ``java.nio`` instead.
  Streaming checkpoints use the FileSystem-based checkpoint manager, because
  the default FileContext one hard-wires the stock raw filesystem. The class
  is compiled once per source and Hadoop version into a jar in the per-user
  cache (``cache_dir``). A session that cannot use it keeps the stock
  filesystem, and the reason is recorded in ``LOCAL_FS_FALLBACK``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

# The reference wire format for timestamps in Kafka JSON messages
# (reference: generate_source_data.py:20).
REFERENCE_TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss.SSS"

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_NIO_FS_SOURCE = os.path.join(_PKG_DIR, "jvm", "NioLocalFileSystem.java")
NIO_LOCAL_FS = "ibis_flink_example_spark.jvm.NioLocalFileSystem"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Why the current session keeps Hadoop's stock local filesystem; None while
# it runs on NIO_LOCAL_FS.
LOCAL_FS_FALLBACK: str | None = None


def _default_driver_mem() -> str:
    """Driver heap for local-mode sessions: ``SPARK_GRAFT_DRIVER_MEM`` if
    set, else min(24g, half of physical RAM).

    Spark's own default is 1g. A local[32] run executes 32 concurrent
    tasks, every shuffle, broadcast and codegen cache, and the scheduler
    inside that one JVM; at 1g it spends its time in GC, timings swing
    2-10x run to run, and broadcasts fail with "Not enough memory to build
    and broadcast". The cap at half of RAM keeps a small host's OS from
    killing the JVM where a fixed 24g would not fit. Static conf: it
    applies when this builder launches the JVM (bench.py, tests,
    examples); a cluster deployment sizes driver and executor memory in
    spark-submit, and this value is ignored there."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        half_gib = int(total // (2 * 1024**3))
    except (ValueError, OSError, AttributeError):  # non-POSIX fallback
        half_gib = 24
    return f"{max(1, min(24, half_gib))}g"


def cache_dir() -> str:
    """Per-user cache for the built jar and package zip:
    ``$XDG_CACHE_HOME/spark-graft``, else ``~/.cache/spark-graft``. Not the
    temp dir: callers may point ``TMPDIR`` at a per-run directory that they
    delete, and a cold ``javac`` costs seconds."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "spark-graft")


def _publish(path: str, build) -> str:
    """Return ``path``, first creating it if missing: ``build(tmp)`` writes
    the file inside a fresh temp dir next to ``path`` and returns its name,
    and ``os.replace`` moves it into place. Processes that build at once
    each publish a complete file; none sees a partial one."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(path))
    try:
        os.replace(build(tmp), path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _files(top: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(root, fn)
        for root, _dirs, files in os.walk(top)
        for fn in files
        if fn.endswith(suffix)
    )


def _zip(files: list[str], base: str, out: str) -> str:
    with zipfile.ZipFile(out, "w") as zf:
        for full in files:
            zf.write(full, os.path.relpath(full, base))
    return out


def _fall_back(reason: str) -> None:
    """Record why the session keeps the stock local filesystem; warn once."""
    global LOCAL_FS_FALLBACK
    if LOCAL_FS_FALLBACK is None:
        LOCAL_FS_FALLBACK = reason
        warnings.warn(
            "keeping Hadoop's stock local filesystem (one chmod process per "
            f"file written): {reason}",
            stacklevel=3,
        )


def nio_local_fs_jar(cache: str | None = None) -> str | None:
    """The jar of ``jvm/NioLocalFileSystem.java``, compiled by the local
    ``javac`` against pyspark's Hadoop client jar on first use and kept in
    ``cache`` (default ``cache_dir()``) under a key of the source bytes and
    the Hadoop jar name. None, with the reason in ``LOCAL_FS_FALLBACK``,
    when it cannot be built."""
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    java_home = os.environ.get("JAVA_HOME")
    javac = (
        java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))
    ) or shutil.which("javac")
    if not jars or not javac:
        _fall_back(
            "no hadoop-client-api jar in pyspark" if not jars
            else "no javac in $JAVA_HOME/bin or on PATH"
        )
        return None

    def build(tmp: str) -> str:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-cp", jars[0], "-d", classes, _NIO_FS_SOURCE],
            check=True,
            capture_output=True,
            text=True,
        )
        return _zip(_files(classes, ".class"), classes, os.path.join(tmp, "out.jar"))

    try:
        with open(_NIO_FS_SOURCE, "rb") as f:
            key = hashlib.sha256(f.read() + os.path.basename(jars[0]).encode()).hexdigest()
        return _publish(os.path.join(cache or cache_dir(), f"nio-localfs-{key[:16]}.jar"), build)
    except subprocess.CalledProcessError as e:
        _fall_back(f"javac failed: {e.stderr.strip()}")
    except OSError as e:
        _fall_back(f"cannot build the jar: {e}")
    return None


DEFAULT_CONF = {
    "spark.driver.memory": _default_driver_mem(),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Fixture parquet stores naive-µs timestamps (isAdjustedToUTC=false);
    # read them as plain TIMESTAMP, not TIMESTAMP_NTZ — the whole package
    # (range frames over unix_micros, watermarks, the DuckDB oracle) assumes
    # epoch-µs semantics under the UTC session timezone.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Files: pack small fixture files; on 100 TB this is the knob that sizes
    # scan tasks (128 MB default is right for a cluster; harmless locally).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dims (region/nation/supplier/part) stay broadcast
    # even at sf100; AQE will also convert to broadcast at runtime.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.shuffle.partitions": "32",
}


def get_spark(
    app_name: str = "ibis-flink-example-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the conventional SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a cluster deployment the master comes from spark-submit and this builder
    only contributes conf. A local session this call launches writes local
    files through ``NIO_LOCAL_FS`` (module docstring); ``extra_conf``'s
    ``spark.driver.extraClassPath`` is kept and the jar appended to it.
    """
    from pyspark import SparkContext

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # static conf: only a JVM this call launches can take it, and only local
    # executors share the driver's classpath
    jar = None
    if SparkContext._active_spark_context is None and master.startswith("local"):
        jar = nio_local_fs_jar()
    if jar:
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = f"{cp}{os.pathsep}{jar}" if cp else jar
        conf["spark.hadoop.fs.file.impl"] = NIO_LOCAL_FS
        conf["spark.sql.streaming.checkpointFileManagerClass"] = FS_CHECKPOINT_MANAGER
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _note_local_fs(spark)
    return spark


def _note_local_fs(spark: SparkSession) -> None:
    global LOCAL_FS_FALLBACK
    if spark.conf.get("spark.hadoop.fs.file.impl", None) == NIO_LOCAL_FS:
        LOCAL_FS_FALLBACK = None
    else:
        _fall_back(
            "the session was not launched by get_spark on a local master, "
            "and a running JVM's filesystem class cannot change"
        )


def package_zip(cache: str | None = None) -> str:
    """A zip of the package's ``.py`` files, kept in ``cache`` (default
    ``cache_dir()``) under a content hash, so each version of the package
    is zipped once per user, not once per process."""
    parent = os.path.dirname(_PKG_DIR)
    files = _files(_PKG_DIR, ".py")
    h = hashlib.sha256()
    for full in files:
        h.update(os.path.relpath(full, parent).encode() + b"\0")
        with open(full, "rb") as f:
            h.update(f.read())

    def build(tmp: str) -> str:
        return _zip(files, parent, os.path.join(tmp, "out.zip"))

    name = f"ibis_flink_example_spark-{h.hexdigest()[:16]}.zip"
    return _publish(os.path.join(cache or cache_dir(), name), build)


def ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``ibis_flink_example_spark`` importable inside Python workers.

    Worker processes don't inherit the driver's sys.path mutations, so any
    pandas-UDF / mapInPandas closure that (transitively) references this
    package by module would fail to unpickle when the driver's cwd is not
    the repo root. ``addPyFile`` distributes a zip of the package
    (``package_zip``) and puts it on every worker's sys.path — the same
    mechanism a spark-submit deployment would use (--py-files).
    """
    global _SHIPPED
    if _SHIPPED:
        return
    try:
        path = package_zip()
    except OSError:  # the cache is not writable: the temp dir serves
        path = package_zip(tempfile.gettempdir())
    spark.sparkContext.addPyFile(path)
    _SHIPPED = True


_SHIPPED = False


def apply_session_conf(spark: SparkSession) -> None:
    """Apply the runtime-settable subset of our conventions to an existing
    session (the driver hands us its own SparkSession for ``entry``/``queries``;
    static conf like memory and the local filesystem class can't change, but
    these can)."""
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ):
        spark.conf.set(k, DEFAULT_CONF[k])
    _note_local_fs(spark)
    ship_package_to_workers(spark)
