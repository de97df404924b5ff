"""Live Kafka integration (S1/S3): the reference's ACTUAL topology —
``payment_msg`` topic → JSON decode → 10 s range over-window per province
→ JSON sink topic (reference: window_aggregation.py:35-51, 61-70, 83) —
run end-to-end against a real broker.

No broker exists in the build sandbox, so this module SKIPS explicitly
unless ``KAFKA_BOOTSTRAP`` is set (e.g. ``localhost:9092``). Wherever a
broker is available the test must be green. Broker-free,
``test_streaming.py::test_payment_pipeline_end_to_end`` runs the same
``payment_query_stream`` through the identical decode/encode path over a
file stream and pins the same contract: the drained sink holds one row per
input row, equal to ``payment_query_batch``.

Connector classpath: provide spark-sql-kafka at session build
(``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``) or set
``KAFKA_SQL_JAR=/path/to/jar`` and this test registers it session-scoped
via the reference's ADD JAR surface (sources/kafka.py:add_connector_jar).
"""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

KAFKA_BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP")

pytestmark = pytest.mark.skipif(
    not KAFKA_BOOTSTRAP,
    reason="live Kafka integration requires KAFKA_BOOTSTRAP=<host:port> "
    "(no broker in this environment; plumbing covered via file/memory "
    "streams in test_streaming.py)",
)


def _payment_rows():
    import random

    rng = random.Random(7)
    rows = []
    for i in range(200):
        ts = 1_700_000_000_000 + i * 1500  # ms, strictly increasing
        rows.append(
            {
                "createTime": ts,
                "orderId": 1_700_000_000 + i,
                "payAmount": round(rng.uniform(0, 100000), 2),
                "payPlatform": 0 if rng.random() < 0.9 else 1,
                "provinceId": rng.randint(0, 6),
            }
        )
    return rows


def test_payment_pipeline_against_live_broker(spark, sf_dir):
    from ibis_flink_example_spark.schema import PAYMENT_MSG_SCHEMA, TOTAL_AMOUNT_SCHEMA
    from ibis_flink_example_spark.session import REFERENCE_TIMESTAMP_FORMAT
    from ibis_flink_example_spark.sources.kafka import (
        add_connector_jar,
        decode_json_value,
        read_kafka_json,
        write_kafka_json,
    )
    from ibis_flink_example_spark.streaming.pipeline import (
        payment_query_batch,
        payment_query_stream,
    )

    jar = os.environ.get("KAFKA_SQL_JAR")
    if jar:
        add_connector_jar(spark, jar)

    run_id = uuid.uuid4().hex[:8]
    src_topic, sink_topic = f"payment_msg_{run_id}", f"sink_{run_id}"

    # --- produce: batch rows through the reference wire format -------------
    rows_df = spark.createDataFrame(
        [
            (
                r["createTime"],
                r["orderId"],
                r["payAmount"],
                r["payPlatform"],
                r["provinceId"],
            )
            for r in _payment_rows()
        ],
        "createTime long, orderId long, payAmount double, payPlatform int, provinceId int",
    ).withColumn("createTime", F.timestamp_millis(F.col("createTime")))
    wire = rows_df.select(
        F.to_json(
            F.struct(*rows_df.columns),
            {"timestampFormat": REFERENCE_TIMESTAMP_FORMAT},
        ).alias("value")
    )
    try:
        (
            wire.write.format("kafka")
            .option("kafka.bootstrap.servers", KAFKA_BOOTSTRAP)
            .option("topic", src_topic)
            .save()
        )
    except Exception as exc:  # pragma: no cover - classpath-dependent
        # Skip ONLY for a missing connector (classpath problem). Anything
        # else — broker down, auth, timeout — must FAIL: the module
        # contract is green-wherever-a-broker-exists, and a down broker
        # reported as a skip would hide exactly the failures this test is
        # for.
        msg = str(exc)
        if (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source: kafka" in msg
            or "ClassNotFoundException" in msg
        ):
            pytest.skip(
                "spark-sql-kafka connector not on the classpath — start the "
                "session with --packages org.apache.spark:spark-sql-kafka-0-10_2.13 "
                "or set KAFKA_SQL_JAR"
            )
        raise

    # --- the reference pipeline: source topic -> query -> sink topic -------
    payments = read_kafka_json(
        spark,
        bootstrap_servers=KAFKA_BOOTSTRAP,
        topic=src_topic,
        schema=PAYMENT_MSG_SCHEMA,
    )
    result = payment_query_stream(payments)
    q = write_kafka_json(
        result,
        bootstrap_servers=KAFKA_BOOTSTRAP,
        topic=sink_topic,
        checkpoint_location=tempfile.mkdtemp(prefix=f"ckpt_kafka_{run_id}_"),
        trigger_available_now=True,
    )
    q.awaitTermination()

    # --- read the sink back (batch) and compare to the batch oracle --------
    sink_raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA_BOOTSTRAP)
        .option("subscribe", sink_topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    got = (
        decode_json_value(sink_raw, TOTAL_AMOUNT_SCHEMA)
        .toPandas()
        .sort_values(["province_id", "pay_amount"])
        .reset_index(drop=True)
    )
    payments_batch = decode_json_value(
        wire.select(F.col("value").cast("binary").alias("value")),
        PAYMENT_MSG_SCHEMA,
    )
    want = (
        payment_query_batch(payments_batch)
        .toPandas()
        .sort_values(["province_id", "pay_amount"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["province_id"] == want["province_id"]).all()
    assert (got["pay_amount"] - want["pay_amount"]).abs().max() < 1e-9
