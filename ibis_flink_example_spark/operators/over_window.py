"""Event-time RANGE over-window aggregation — the reference's flagship operator.

Reference semantics (window_aggregation.py:73-80; README.md:68): for EACH input
row, emit SUM(measure) over rows of the same key whose event-time lies in
``[row.ts - lookback, row.ts]`` — one output row per input row, Flink SQL
``SUM(x) OVER (PARTITION BY k ORDER BY t RANGE BETWEEN INTERVAL 'n' SECOND
PRECEDING AND CURRENT ROW)``.

Spark design (batch): a native ``Window.rangeBetween`` over an integer
microsecond ordering key. We order by ``unix_micros(ts)`` (exact int64
epoch-µs) instead of a double cast so the frame bound arithmetic is integer —
no float boundary wobble at µs precision (SURVEY.md §7.3 item 2). RANGE frames
include peer rows (equal timestamps), matching Flink.

Scale posture: this is a single hash-exchange on the partition key followed by
a per-key sort — exactly Flink's keyBy + OverAggregate. Catalyst plans
``Exchange hashpartitioning(key) -> Sort -> Window [RANGE frame]`` with
whole-stage codegen around the projection; state is bounded by the frame, not
the partition, so a 100 TB scan streams through. Skewed keys are split by AQE;
for pathological single-key skew, pre-aggregate per (key, time-bucket) first.

The streaming form of ``range_over_sum`` is ``stateful_range_over_sum`` in
``streaming/stateful.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ibis_flink_example_spark.functions.exact import money

MICROS = 1_000_000


def range_over_sum(
    df: DataFrame,
    *,
    key: str,
    time_col: str,
    measure: str,
    lookback_seconds: float,
    out_col: str,
    exact_decimal: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Per-row trailing-window SUM (the W1 flagship).

    ``exact_decimal`` sums through DECIMAL(18,2) for order-independent results
    on 2-decimal-quantized measures (functions/exact.py rationale).
    """
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(time_col)))
        .rangeBetween(-int(lookback_seconds * MICROS), 0)
    )
    measure_col: Column = money(measure) if exact_decimal else F.col(measure)
    agg = F.sum(measure_col).over(w).cast("double").alias(out_col)
    cols = keep if keep is not None else [c for c in df.columns]
    return df.select(*cols, agg)


def range_over_agg(
    df: DataFrame,
    *,
    key: str,
    time_col: str,
    lookback_seconds: float,
    aggs: dict[str, Column],
    keep: list[str] | None = None,
) -> DataFrame:
    """General trailing range-window: apply arbitrary aggregate Columns over
    the ``[t - lookback, t]`` frame per key (count/avg/min/max/...)."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(time_col)))
        .rangeBetween(-int(lookback_seconds * MICROS), 0)
    )
    cols = keep if keep is not None else [c for c in df.columns]
    return df.select(*cols, *[expr.over(w).alias(name) for name, expr in aggs.items()])
