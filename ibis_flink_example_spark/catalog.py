"""Catalog: named-table registration over the fixture parquet directories.

The reference registers tables by name via DDL (``con.create_table``,
reference: window_aggregation.py:44-51, 68-70) and queries them by name. Our
batch analog registers each parquet fixture as a temp view so both DataFrame
code and ``spark.sql`` can reference the same names the DuckDB oracle uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Memo of LAZY fixture scans: (applicationId, path, mtime_ns) -> DataFrame.
# This caches PLAN METADATA only — an unexecuted logical scan — never data:
# every action over the returned frame still reads the parquet files, with
# full pushdown/pruning freedom (a DataFrame is an immutable plan; reuse
# cannot leak results across queries). Motivation (r16, VERDICT r15 #3):
# each spark.read.parquet(path) call re-lists the path and re-infers the
# schema from footers through py4j — measured 105-142 ms per call warm at
# sf0.1, paid 1-3x by nearly every one of 294 queries (~60 s fleet-wide of
# pure repeated metadata work). The mtime in the key makes a rewritten
# fixture (tests with tmp dirs) miss the memo; bounded like
# _SPLIT_PROBE_CACHE below. Keyed on applicationId: one JVM's sessions
# share files/catalog, and a plan built on session A executes correctly
# when composed from session B of the same context (execution conf binds
# at action time from the acting frame's session).
_SCAN_CACHE: dict[tuple[str, str, int], DataFrame] = {}
_SCAN_CACHE_MAX = 256

# applicationId is itself a py4j roundtrip (~5-20 ms under load) — cache it
# ON the SparkContext wrapper object so the memo dies with the context
# (no id()-reuse hazard after a stop/start cycle).


def _app_id(spark: SparkSession) -> str:
    sc = spark.sparkContext
    v = getattr(sc, "_graft_app_id", None)
    if v is None:
        v = sc.applicationId
        sc._graft_app_id = v
    return v


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one fixture table (ns-timestamps lowered to µs; see
    sources/files.py). Plain lazy scan so Catalyst keeps full pushdown and
    pruning freedom — the memo above holds unexecuted plans, never data."""
    from ibis_flink_example_spark.sources.files import read_parquet

    path = table_path(sf_dir, name)
    try:
        key = (_app_id(spark), path, os.stat(path).st_mtime_ns)
    except Exception:  # pragma: no cover - stat/context edge; just re-read
        key = None
    if key is not None and key in _SCAN_CACHE:
        return _SCAN_CACHE[key]
    df = read_parquet(spark, path)
    if key is not None:
        if len(_SCAN_CACHE) >= _SCAN_CACHE_MAX:
            _SCAN_CACHE.clear()
        _SCAN_CACHE[key] = df
    return df


def drop_table_and_location(spark: SparkSession, name: str) -> None:
    """DROP TABLE plus removal of any orphaned managed location. With the
    default in-memory catalog, DROP TABLE in a NEW session can't see a
    table a previous session created — but its managed directory survives
    and makes a later CTAS fail with LOCATION_ALREADY_EXISTS. Driver-side
    metadata op; a Hive/production metastore wouldn't orphan it."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    orphan = os.path.join(wh.path or wh.netloc, name)
    if os.path.isdir(orphan):
        shutil.rmtree(orphan, ignore_errors=True)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names if os.path.exists(table_path(sf_dir, n))}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = FIXTURE_TABLES
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (idempotent)."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


# Memo for fan_out's split probe: (app id, semantic hash) -> partitions.
# The probe (df.rdd.getNumPartitions) does full physical planning through
# py4j — fine once, wasteful when every query in a 99-query run re-probes the
# same fixture scan. Semantically-equal plans reuse the first probe's answer.
# Keyed by applicationId (stable, unlike id(session) which can be reused
# after GC) and bounded; a fixture whose file layout is rewritten mid-session
# can still serve a stale count until eviction — the only consequence is a
# suboptimal repartition decision, never wrong results.
_SPLIT_PROBE_CACHE: dict[tuple[str, int], int] = {}
_SPLIT_PROBE_CACHE_MAX = 256


def _num_scan_partitions(df: DataFrame) -> int:
    try:
        key = (_app_id(df.sparkSession), df.semanticHash())
    except Exception:  # pragma: no cover - semanticHash is a developer API
        key = None
    if key is not None and key in _SPLIT_PROBE_CACHE:
        return _SPLIT_PROBE_CACHE[key]
    n = df.rdd.getNumPartitions()
    if key is not None:
        if len(_SPLIT_PROBE_CACHE) >= _SPLIT_PROBE_CACHE_MAX:
            _SPLIT_PROBE_CACHE.clear()
        _SPLIT_PROBE_CACHE[key] = n
    return n


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen a narrow scan so CPU-heavy per-row work (shingling, hashing,
    dot products, Python workers) uses every core.

    Single-row-group parquet files — the shape of the small test fixtures —
    plan as ONE input split no matter what ``maxPartitionBytes`` says, which
    serializes everything up to the first shuffle on one core. This helper
    round-robins such scans to ``defaultParallelism`` partitions, and is a
    deliberate NO-OP when the scan already has enough splits: at 100 TB the
    input arrives in thousands of row groups and an extra full shuffle of
    the raw rows would be pure waste. Call it only in front of operators
    whose per-row cost dwarfs one row's shuffle bytes.

    Streaming DataFrames pass through untouched (no RDD probe exists for
    them; micro-batch parallelism is governed by the source + shuffle conf).
    """
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _num_scan_partitions(df) < target:
        return df.repartition(target)
    return df


def scratch_dir(name: str, sf_dir: str) -> str:
    """Stable per-(query, fixture) scratch directory for queries that
    materialize intermediate layouts (partitioned/bucketed/sketch
    artifacts). A fresh ``mkdtemp`` per execution leaks one table-sized
    directory per run — bench + oracle gate + tests each re-execute every
    registered query, so the leak is unbounded; a deterministic path with
    ``mode("overwrite")`` caps disk at ONE copy per query/fixture.

    On a shared host the path alone is NOT a defense (any user can
    pre-create a predictable /tmp name before we do), so ownership is
    VERIFIED, not assumed: both the per-user 0700 parent AND the leaf
    directory must lstat as a real directory (not a symlink) owned by
    our uid, and the parent must carry no group/other write bits — any
    violation raises (never a silent chmod: a writable window may
    already contain a planted symlink at the predictable leaf name).
    The leaf's own mode is not policed: the 0700 parent already makes
    it unreachable to other users, and legacy leaves were 0755/0775.
    Ownership/mode checks are POSIX-only; the symlink check is not. Within one user, concurrent runs against the same
    fixture (bench overlapping the oracle gate) still share a path by
    design — the single-writer-per-fixture assumption is documented
    here and the overwrite is atomic-enough for parquet (reader lists
    the directory once) but NOT guaranteed under a concurrent writer."""
    import hashlib
    import os
    import stat as stat_mod
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else 0

    posix = hasattr(os, "getuid")

    def _assert_owned_dir(p: str, what: str, check_mode: bool) -> None:
        st = os.lstat(p)
        if not stat_mod.S_ISDIR(st.st_mode):
            raise RuntimeError(
                f"scratch {what} {p} is not a directory (symlink attack?)"
            )
        if posix and st.st_uid != uid:
            raise RuntimeError(
                f"scratch {what} {p} is owned by uid {st.st_uid}, not "
                f"{uid} — refusing to write into a pre-owned directory"
            )
        # Write-bit hardening is POSIX-only (Windows lstat reports 0777
        # for ordinary dirs) and applies to the PARENT only: a 0700
        # parent makes the leaf unreachable to other users regardless of
        # the leaf's own mode (legacy leaves were created 0755/0775).
        if check_mode and posix and st.st_mode & (
            stat_mod.S_IWGRP | stat_mod.S_IWOTH
        ):
            # a writable window may already contain a planted symlink —
            # raising is the only safe response (chmod would not undo it)
            raise RuntimeError(
                f"scratch {what} {p} is group/other-writable "
                f"(mode {oct(st.st_mode & 0o777)}) — remove it or fix "
                "its permissions to 0700"
            )

    parent = os.path.join(tempfile.gettempdir(), f"spark_graft_u{uid}")
    os.makedirs(parent, mode=0o700, exist_ok=True)
    _assert_owned_dir(parent, "parent", check_mode=True)
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(parent, f"{name}_{digest}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    _assert_owned_dir(d, "dir", check_mode=False)
    return d
