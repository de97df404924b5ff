"""The reference pipeline, end-to-end (SURVEY.md §1.5 topology):

  Kafka topic payment_msg ─▶ JSON decode (declared schema, W2 watermark 15 s)
    ─▶ per-row 10 s range over-window SUM per provinceId
    ─▶ rename to (province_id, pay_amount) ─▶ JSON encode ─▶ Kafka topic sink

Reference: window_aggregation.py end-to-end (source DDL :44-51, query
:73-80, insert :83). The pipeline is assembled from this package's parts so
every stage is individually tested; the source/sink are pluggable
(Kafka in production, file/memory streams in tests — identical plan
otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ibis_flink_example_spark.operators.over_window import range_over_sum
from ibis_flink_example_spark.streaming.stateful import stateful_range_over_sum

WATERMARK_DELAY_S = 15  # reference: window_aggregation.py:49
LOOKBACK_S = 10  # reference: window_aggregation.py:76


def payment_query_batch(payments: DataFrame) -> DataFrame:
    """The flagship query in batch form on a payment_msg-shaped DataFrame:
    exact W1 semantics, used for batch runs and stream-equivalence oracles."""
    out = range_over_sum(
        payments,
        key="provinceId",
        time_col="createTime",
        measure="payAmount",
        lookback_seconds=LOOKBACK_S,
        out_col="pay_amount",
        keep=["provinceId"],
    )
    return out.select(F.col("provinceId").alias("province_id"), "pay_amount")


def payment_query_stream(payments: DataFrame) -> DataFrame:
    """The same query on a STREAMING payment_msg DataFrame, on the keyed
    range-sum state of ``stateful_range_over_sum``. Emits (province_id,
    pay_amount) append rows — the sink shape of the reference
    (window_aggregation.py:54-59) — one per admitted input row in the
    micro-batch that carries it, so a drained bounded run equals
    ``payment_query_batch`` row for row."""
    agged = stateful_range_over_sum(
        payments,
        key="provinceId",
        time_col="createTime",
        measure="payAmount",
        row_id="orderId",
        lookback_seconds=LOOKBACK_S,
        delay_seconds=WATERMARK_DELAY_S,
        out_col="pay_amount",
    )
    return agged.select(F.col("provinceId").alias("province_id"), "pay_amount")
