#!/usr/bin/env python
"""The reference's end-to-end workflow on this engine — runnable as-is.

Reference topology (claypotai/ibis-flink-example, window_aggregation.py):

  Kafka topic ``payment_msg`` (JSON, declared schema, earliest offsets)
    → 10 s event-time RANGE over-window SUM of payAmount per provinceId
    → rename to (province_id, pay_amount) → JSON → Kafka topic ``sink``
    → consumer tap printing 10 sink records.

A user of the reference switches by swapping the Flink table-API calls for
this package's parts (same schema, same wire format, same watermark and
window semantics):

  with broker:    read_kafka_json(...)  → payment_query_stream → write_kafka_json(...)
  without broker: the identical decode/query/encode path over a file
                  stream (what this demo runs — the sandbox has no broker;
                  set KAFKA_BOOTSTRAP to run the Kafka arms instead).

Run:  python examples/reference_pipeline_demo.py
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ibis_flink_example_spark.schema import PAYMENT_MSG_SCHEMA  # noqa: E402
from ibis_flink_example_spark.session import get_spark  # noqa: E402
from ibis_flink_example_spark.sources.kafka import (  # noqa: E402
    decode_json_value,
    encode_json_value,
    read_kafka_json,
    write_kafka_json,
)
from ibis_flink_example_spark.streaming.pipeline import (  # noqa: E402
    payment_query_batch,
    payment_query_stream,
)
from ibis_flink_example_spark.streaming.runtime import run_available_now  # noqa: E402


def generate_payment_messages(n: int = 200) -> list[str]:
    """The reference data generator's wire format
    (generate_source_data.py: createTime ms-precision, orderId counter,
    payAmount uniform, payPlatform 0/1, provinceId 0..6)."""
    rng = random.Random(42)
    out = []
    t0 = 1_700_000_000_000
    for i in range(n):
        ts = time.strftime(
            "%Y-%m-%d %H:%M:%S", time.gmtime((t0 + i * 1500) / 1000)
        ) + f".{(t0 + i * 1500) % 1000:03d}"
        out.append(
            json.dumps(
                {
                    "createTime": ts,
                    "orderId": 1_700_000_000 + i,
                    "payAmount": round(rng.uniform(0, 100000), 2),
                    "payPlatform": 0 if rng.random() < 0.9 else 1,
                    "provinceId": rng.randint(0, 6),
                }
            )
        )
    return out


def main() -> None:
    spark = get_spark(app_name="reference-pipeline-demo", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    broker = os.environ.get("KAFKA_BOOTSTRAP")

    if broker:
        # the reference's actual deployment shape
        payments = read_kafka_json(
            spark,
            bootstrap_servers=broker,
            topic="payment_msg",
            schema=PAYMENT_MSG_SCHEMA,
        )
        result = payment_query_stream(payments)
        with tempfile.TemporaryDirectory(prefix="ckpt_demo_") as ckpt:
            q = write_kafka_json(
                result,
                bootstrap_servers=broker,
                topic="sink",
                checkpoint_location=ckpt,
                trigger_available_now=True,
            )
            q.awaitTermination()
        print("wrote sink topic; read it back with spark.read.format('kafka')...")
        return

    # broker-less arm: identical decode → query → encode over a file stream
    d = tempfile.mkdtemp(prefix="payment_msgs_")
    try:
        with open(os.path.join(d, "messages.jsonl"), "w") as fh:
            fh.write("\n".join(generate_payment_messages()))

        raw = (
            spark.readStream.schema("value string")
            .text(d)
            .select(F.col("value").cast("binary").alias("value"))
        )
        payments = decode_json_value(raw, PAYMENT_MSG_SCHEMA)
        # the same query as the Kafka arm; a drained run emits every row's
        # aggregate, so it equals the batch query row-for-row
        result = run_available_now(payment_query_stream(payments), output_mode="append")

        # the reference's verification tap: 10 sink records
        sink_rows = encode_json_value(result).limit(10).collect()
        print("sink sample (reference README shape):")
        for r in sink_rows:
            print("  ", r["value"])

        # batch-vs-stream equivalence — the core correctness contract
        batch_raw = spark.read.text(os.path.join(d, "*.jsonl")).select(
            F.col("value").cast("binary").alias("value")
        )
        want = payment_query_batch(decode_json_value(batch_raw, PAYMENT_MSG_SCHEMA))
        n_stream, n_batch = result.count(), want.count()
        diff = result.exceptAll(want).count() + want.exceptAll(result).count()
        print(f"stream rows={n_stream} batch rows={n_batch} symmetric diff={diff}")
        assert diff == 0, "drained streaming run must equal the batch query"
        print("OK: streaming result row-for-row equals the batch query.")
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
