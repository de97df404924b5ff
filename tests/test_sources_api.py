"""Exercise the source/sink/runtime API surface that the fixture-driven
oracle queries don't reach: CSV/JSONL batch readers, streaming directory
sources, the console tap, foreachBatch, the rate-based payment generator,
and the general range_over_agg operator. Kafka read/write remain
broker-gated (no broker in this environment) — their JSON decode/encode
layers are covered in test_streaming.py."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from ibis_flink_example_spark.catalog import load_table
from ibis_flink_example_spark.operators.over_window import range_over_agg
from ibis_flink_example_spark.schema import EVENTS_SCHEMA
from ibis_flink_example_spark.sources.files import (
    read_csv,
    read_jsonl,
    stream_jsonl_dir,
    stream_parquet_dir,
)
from ibis_flink_example_spark.sources.rate import payment_rate_source
from ibis_flink_example_spark.streaming.runtime import console_tap, foreach_batch


@pytest.fixture(scope="module")
def events_subset(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .limit(200)
    )


def _schema_without_props():
    return EVENTS_SCHEMA.__class__(
        [f for f in EVENTS_SCHEMA.fields if f.name != "props"]
    )


def test_csv_roundtrip_with_declared_schema(spark, events_subset):
    d = tempfile.mkdtemp(prefix="csv_src_")
    try:
        (
            events_subset.coalesce(1)
            .write.mode("overwrite")
            .option("header", "true")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
            .csv(d)
        )
        back = read_csv(spark, d, _schema_without_props())
        a = events_subset.orderBy("event_id").collect()
        b = back.orderBy("event_id").collect()
        assert len(a) == len(b) == 200
        # ms-precision wire format (the reference's): compare truncated to ms
        for ra, rb in zip(a, b):
            assert ra["event_id"] == rb["event_id"]
            assert ra["value"] == rb["value"]
            assert int(ra["ts"].timestamp() * 1000) == int(rb["ts"].timestamp() * 1000)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_jsonl_roundtrip_with_declared_schema(spark, events_subset):
    d = tempfile.mkdtemp(prefix="jsonl_src_")
    try:
        (
            events_subset.coalesce(1)
            .write.mode("overwrite")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
            .json(d)
        )
        back = read_jsonl(spark, d, _schema_without_props())
        assert back.count() == 200
        assert back.filter(F.col("ts").isNull()).count() == 0
        s = back.agg(F.sum("value")).first()[0]
        s0 = events_subset.agg(F.sum("value")).first()[0]
        assert abs(s - s0) < 1e-6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_parquet_dir_replays_fixture(spark, events_subset):
    d = tempfile.mkdtemp(prefix="stream_pq_")
    try:
        events_subset.coalesce(1).write.mode("overwrite").parquet(d)
        stream = stream_parquet_dir(
            spark, d, _schema_without_props(), max_files_per_trigger=1
        )
        assert stream.isStreaming
        seen: list[int] = []
        foreach_batch(stream, lambda bdf, bid: seen.append(bdf.count()))
        assert sum(seen) == 200
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_jsonl_dir_and_console_tap(spark, events_subset):
    d = tempfile.mkdtemp(prefix="stream_js_")
    try:
        (
            events_subset.coalesce(1)
            .write.mode("overwrite")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
            .json(d)
        )
        stream = stream_jsonl_dir(spark, d, _schema_without_props())
        q = console_tap(stream.select("event_id", "event_type"), num_rows=5)
        try:
            q.processAllAvailable()
            # console output goes to the JVM's stdout (not capturable here);
            # assert via progress metadata that the sink consumed the rows
            processed = sum(p["numInputRows"] for p in q.recentProgress)
        finally:
            q.stop()
        assert processed == 200
        assert q.exception() is None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_payment_rate_source_schema_and_rows(spark, tmp_path):
    src = payment_rate_source(spark, rows_per_second=50)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == [
        "createTime",
        "orderId",
        "payAmount",
        "payPlatform",
        "provinceId",
    ]
    got: list = []
    # an unbounded source never drains, so this run is a plain
    # foreachBatch query that the test stops itself
    q = (
        src.writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline and not got:
            time.sleep(0.5)
    finally:
        q.stop()
    assert got, "rate source produced no rows in 20s"
    r = got[0]
    assert 0 <= r["provinceId"] <= 6
    assert r["payPlatform"] in (0, 1)
    assert 0.0 <= r["payAmount"] < 100000.0


def test_range_over_agg_known_frame(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-01 00:00:05", 20.0),
        (1, "2024-01-01 00:00:14", 30.0),
        (1, "2024-01-01 00:00:30", 40.0),
        (2, "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts string, v double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = range_over_agg(
        df,
        key="k",
        time_col="ts",
        lookback_seconds=10,
        aggs={
            "n_10s": F.count(F.lit(1)),
            "max_10s": F.max("v"),
        },
        keep=["k", "ts", "v"],
    ).collect()
    got = {(r["k"], r["v"]): (r["n_10s"], r["max_10s"]) for r in out}
    assert got[(1, 10.0)] == (1, 10.0)
    assert got[(1, 20.0)] == (2, 20.0)  # frame covers t=0..5
    assert got[(1, 30.0)] == (2, 30.0)  # frame covers t=5..14
    assert got[(1, 40.0)] == (1, 40.0)  # isolated
    assert got[(2, 5.0)] == (1, 5.0)  # keys don't leak


def test_register_views_enables_sql_by_name(spark, sf_dir):
    from ibis_flink_example_spark.catalog import register_views

    dfs = register_views(spark, sf_dir)
    assert "events" in dfs and "lineitem" in dfs
    n_sql = spark.sql("SELECT COUNT(*) AS n FROM events").first()["n"]
    assert n_sql == dfs["events"].count()


def test_add_connector_jar_registers_jar(spark, tmp_path):
    """S6 raw-SQL parity: ADD JAR through the SQL surface (the reference's
    connector-load statement). A minimal valid jar (empty zip) suffices —
    the statement must execute and the jar must appear in LIST JARS."""
    import zipfile

    from ibis_flink_example_spark.sources.kafka import add_connector_jar

    jar = str(tmp_path / "fake-connector.jar")
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
    add_connector_jar(spark, jar)
    listed = [r[0] for r in spark.sql("LIST JARS").collect()]
    assert any("fake-connector.jar" in j for j in listed)


def test_pack_sequences_stable_under_repartition(spark, sf_dir):
    """Pack membership must be a pure function of keys: repartitioning the
    input cannot move a document between packs, and per-pack offsets stay
    within the context window."""
    from ibis_flink_example_spark.operators.sampling import pack_sequences
    from ibis_flink_example_spark.operators.text import token_count_whitespace

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_whitespace("text").alias("n_tokens")
    )
    a = pack_sequences(
        docs, key_col="doc_id", token_col="n_tokens", context_tokens=512
    ).toPandas()
    b = pack_sequences(
        docs.repartition(13), key_col="doc_id", token_col="n_tokens", context_tokens=512
    ).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    assert (a["pack_offset"] >= 0).all() and (a["pack_offset"] < 512).all()
    # every pack's docs reconstruct a contiguous token prefix: min offset 0
    assert (a.groupby("pack_id")["pack_offset"].min() == 0).all()


def test_nanos_detection_rejects_heterogeneous_footers(tmp_path):
    """_nanos_timestamp_columns decides the INT64-vs-INT96 decode path from
    parquet footers; a dataset whose files DISAGREE (mixed writers) must
    raise instead of routing half the files down the wrong path (ADVICE r6
    #2). Homogeneous datasets — either flavor — still resolve."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from ibis_flink_example_spark.sources.files import _nanos_timestamp_columns

    ts = pd.to_datetime(["2024-01-01", "2024-01-02"])
    t = pa.table({"ts": pa.array(ts, type=pa.timestamp("ns")), "x": [1, 2]})

    het = tmp_path / "het"
    het.mkdir()
    pq.write_table(t, str(het / "a.parquet"))  # INT64 nanos
    pq.write_table(t, str(het / "b.parquet"), use_deprecated_int96_timestamps=True)
    with _pytest.raises(ValueError, match="heterogeneous"):
        _nanos_timestamp_columns(str(het))

    homo = tmp_path / "homo"
    homo.mkdir()
    pq.write_table(t, str(homo / "a.parquet"))
    pq.write_table(t, str(homo / "b.parquet"))
    assert _nanos_timestamp_columns(str(homo)) == ("ts",)

    int96 = tmp_path / "int96"
    int96.mkdir()
    pq.write_table(t, str(int96 / "a.parquet"), use_deprecated_int96_timestamps=True)
    pq.write_table(t, str(int96 / "b.parquet"), use_deprecated_int96_timestamps=True)
    assert _nanos_timestamp_columns(str(int96)) == ()


def test_python_datasource_partition_invariant(spark):
    """The custom Python data source must produce the IDENTICAL row set
    under any partition count (contiguous index ranges, remainder to the
    last partition) — the determinism contract its full value oracle
    depends on."""
    from ibis_flink_example_spark.sources.python_datasource import register

    register(spark)

    def rows(n_parts):
        df = (
            spark.read.format("payments_gen")
            .option("n_rows", 1003)  # deliberately not divisible
            .option("n_partitions", n_parts)
            .load()
        )
        return sorted(
            (r["orderId"], r["provinceId"], r["payAmount"], r["payPlatform"],
             r["createTime"])
            for r in df.collect()
        )

    a, b = rows(1), rows(7)
    assert len(a) == 1003
    assert a == b


def test_kafka_generator_constants_and_records_match_datasource():
    """examples/kafka_payment_generator.py inlines BASE_ORDER_ID/BASE_EPOCH_S
    (its container has no pyspark, so it cannot import the package) — pin
    the copies equal, and pin a generated record against the in-engine
    payment arithmetic so the compose generator and the Python Data Source
    stay one workload definition."""
    import importlib.util
    import os

    from ibis_flink_example_spark.sources import python_datasource as pds

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "kafka_payment_generator.py",
    )
    spec = importlib.util.spec_from_file_location("kafka_payment_generator", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.BASE_ORDER_ID == pds.BASE_ORDER_ID
    assert gen.BASE_EPOCH_S == pds.BASE_EPOCH_S
    r = gen.payment_record(11)
    assert r["orderId"] == pds.BASE_ORDER_ID + 11
    assert r["payAmount"] == ((11 * 9973) % 1_000_000_000) / 100.0
    assert r["payPlatform"] == 0 and r["provinceId"] == (11 * 31) % 7
    assert r["createTime"] == "2024-01-01 00:00:11.000"


def test_compose_stack_structure():
    """The live-broker stack has never been executable in this sandbox (no
    docker daemon, no compose plugin — only the bare docker CLI), so the
    next-best runtime evidence is structural: the compose file must parse
    and wire the exact reference topology (compose.yaml:1-77 parity —
    broker + topic init creating payment_msg/sink + generator + demo), so
    a host WITH a daemon can `docker compose up` it unmodified."""
    import os

    import yaml

    path = os.path.join(os.path.dirname(__file__), "..", "docker-compose.yml")
    with open(path) as f:
        d = yaml.safe_load(f)
    services = d["services"]
    assert set(services) == {"kafka", "init-kafka", "data-generator", "demo"}
    init_cmd = str(services["init-kafka"])
    assert "payment_msg" in init_cmd and "sink" in init_cmd
    assert "kafka_payment_generator.py" in str(services["data-generator"])
    # generator and demo must gate on the broker, not race it
    for dependent in ("data-generator", "demo"):
        assert "depends_on" in services[dependent], dependent
