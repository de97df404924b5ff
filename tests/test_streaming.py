"""Streaming runtime tests (SURVEY.md §5 'streaming-specific tests'):
batch-vs-stream equivalence on the events fixture, multi-batch replay with
watermark semantics, and the reference payment pipeline end-to-end through
the JSON format layer."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ibis_flink_example_spark.catalog import load_table
from ibis_flink_example_spark.functions.exact import dec_sum
from ibis_flink_example_spark.operators.time_windows import tumble
from ibis_flink_example_spark.operators.over_window import range_over_sum
from ibis_flink_example_spark.schema import PAYMENT_MSG_SCHEMA
from ibis_flink_example_spark.sources.kafka import decode_json_value, encode_json_value
from ibis_flink_example_spark.streaming.runtime import run_available_now
from ibis_flink_example_spark.streaming.stateful import stateful_range_over_sum


def _sorted_pdf(df, cols):
    return df.toPandas()[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def _stage_chunk(chunk, d, i, now):
    """Write `chunk` as replay file(s) ``{i:02d}_{j}.parquet`` under `d`.

    The streaming file source orders micro-batches by mtime, so each
    chunk's files get mtime ``now + 2*i`` — deterministic replay order,
    no ties. Shared by every replay fixture so the mtime-ordering
    contract lives in exactly one place."""
    part = os.path.join(d, f"part_{i}")
    chunk.coalesce(1).write.mode("overwrite").parquet(part)
    for j, f in enumerate(sorted(glob.glob(os.path.join(part, "*.parquet")))):
        dst = os.path.join(d, f"{i:02d}_{j}.parquet")
        shutil.move(f, dst)
        os.utime(dst, (now + 2 * i, now + 2 * i))
    shutil.rmtree(part)


@pytest.fixture(scope="module")
def events_replay_dir(spark, sf_dir):
    """events split into 4 event-time-ordered parquet files so the streaming
    file source replays them as multiple watermark-advancing micro-batches."""
    d = tempfile.mkdtemp(prefix="events_replay_")
    e = load_table(spark, sf_dir, "events")
    # 4 contiguous time ranges → files replayed in order (source lists by
    # name; prefix with the range index)
    bounds = e.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo_us, hi_us = [
        int(x.timestamp() * 1_000_000) for x in (bounds["lo"], bounds["hi"])
    ]
    step = (hi_us - lo_us) // 4 + 1
    import time as _time

    now = _time.time()
    for i in range(4):
        chunk = e.filter(
            (F.unix_micros("ts") >= lo_us + i * step)
            & (F.unix_micros("ts") < lo_us + (i + 1) * step)
        )
        _stage_chunk(chunk, d, i, now)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stream_events(spark, replay_dir, files_per_trigger=1):
    from ibis_flink_example_spark.schema import schema as mk_schema

    s = mk_schema(
        {
            "event_id": "int64",
            "ts": "timestamp",
            "user_id": "int64",
            "event_type": "string",
            "value": "float64",
            "props": "string",
        }
    )
    return (
        spark.readStream.schema(s)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(replay_dir)
    )


def test_stream_tumble_equals_batch(spark, sf_dir, events_replay_dir):
    """Multi-batch streaming tumble (complete mode) == batch tumble."""
    aggs = {"n_events": F.count(F.lit(1)), "sum_value": dec_sum("value")}
    batch = tumble(load_table(spark, sf_dir, "events"), "ts", "1 minute", aggs, keys=["event_type"])
    stream = _stream_events(spark, events_replay_dir).withWatermark("ts", "15 seconds")
    streamed = run_available_now(
        tumble(stream, "ts", "1 minute", aggs, keys=["event_type"]), output_mode="complete"
    )
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    assert _sorted_pdf(batch, cols).equals(_sorted_pdf(streamed, cols))


def test_stateful_over_window_equals_batch(spark, sf_dir, events_replay_dir):
    """The keyed-state RANGE sum: multi-batch in-order replay through
    applyInPandasWithState equals the batch RANGE over-window exactly, row
    for row."""
    batch = range_over_sum(
        load_table(spark, sf_dir, "events"),
        key="user_id",
        time_col="ts",
        measure="value",
        lookback_seconds=10,
        out_col="value_sum_10s",
        keep=["event_id", "user_id", "ts"],
    )
    streamed = run_available_now(
        stateful_range_over_sum(
            _stream_events(spark, events_replay_dir),
            key="user_id",
            time_col="ts",
            measure="value",
            row_id="event_id",
            lookback_seconds=10,
            delay_seconds=15,
            out_col="value_sum_10s",
        ),
        output_mode="append",
    )
    cols = ["event_id", "user_id", "ts", "value_sum_10s"]
    assert _sorted_pdf(batch, cols).equals(_sorted_pdf(streamed, cols))


def test_stateful_sessionize_multibatch_equals_batch(spark, sf_dir, events_replay_dir):
    """Multi-batch replay of stateful_sessionize == batch gaps-and-islands
    sessionize restricted to sessions that are FINAL under each user's
    end-of-stream watermark (max ts - delay > end + gap) — session_seq
    numbering, bounds, counts, and exact sums all match."""
    from pyspark.sql.window import Window

    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    streamed = run_available_now(
        stateful_sessionize(
            _stream_events(spark, events_replay_dir),
            key="user_id",
            time_col="ts",
            measure="value",
            tiebreak_col="event_id",
            gap_seconds=30 * 60,
            delay_seconds=15,
        ),
        output_mode="append",
    )
    e = load_table(spark, sf_dir, "events")
    ordered = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_ts = F.lag("ts").over(ordered)
    new_session = (
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000)
    ).cast("int")
    running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (
        e.select(
            "user_id", "ts", "value",
            F.sum(new_session).over(running).alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
        .withColumn(
            "max_ts_us",
            F.max(F.unix_micros("session_end")).over(Window.partitionBy("user_id")),
        )
        .where(
            F.col("max_ts_us") - 15 * 1_000_000
            > F.unix_micros("session_end") + 30 * 60 * 1_000_000
        )
        .drop("max_ts_us")
    )
    cols = ["user_id", "session_seq", "session_start", "session_end", "n_events", "sum_value"]
    assert len(streamed.columns) == len(cols)
    assert _sorted_pdf(batch, cols).equals(_sorted_pdf(streamed, cols))


def test_stateful_sessionize_straggler_folds_into_open_session(spark):
    """A within-delay straggler older than the open session's last event
    folds into the session (count/sum/start update); a beyond-delay row is
    dropped. Single-key micro-scenario over two micro-batches."""
    import json
    import time as _time

    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    d = tempfile.mkdtemp(prefix="sess_late_")
    base = 1_700_000_000_000_000  # µs
    b1 = [  # batch 1: two events 5 s apart
        {"event_id": 1, "ts": base, "user_id": 1, "value": 1.00},
        {"event_id": 2, "ts": base + 5_000_000, "user_id": 1, "value": 2.00},
    ]
    b2 = [
        # straggler 3 s behind the max — within the 15 s delay: folds in
        {"event_id": 3, "ts": base + 2_000_000, "user_id": 1, "value": 4.00},
        # 40 min later: closes session 1, opens session 2
        {"event_id": 4, "ts": base + 2_400_000_000, "user_id": 1, "value": 8.00},
    ]
    now = _time.time()
    for i, rows in enumerate([b1, b2]):
        p = os.path.join(d, f"{i}.jsonl")
        with open(p, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now + 2 * i, now + 2 * i))
    stream = (
        spark.readStream.schema("event_id long, ts long, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(d)
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )
    out = run_available_now(
        stateful_sessionize(
            stream,
            key="user_id",
            time_col="ts",
            measure="value",
            tiebreak_col="event_id",
            gap_seconds=30 * 60,
            delay_seconds=15,
        ),
        output_mode="append",
    ).collect()
    shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1  # session 1 closed by event 4; session 2 still open
    row = out[0]
    assert row["session_seq"] == 1
    assert row["n_events"] == 3  # straggler included
    assert abs(row["sum_value"] - 7.00) < 1e-9
    assert row["session_start"].timestamp() * 1_000_000 == base


def test_stateful_sessionize_bridging_straggler_merges(spark):
    """The watermark-final guarantee: a within-delay straggler landing in
    the tail of a gap window BRIDGES the two sessions it sits between —
    they must be merged in state (batch semantics), not split because the
    earlier one was already emitted. Exactly the case eager emit-on-close
    gets wrong."""
    import json
    import time as _time

    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    d = tempfile.mkdtemp(prefix="sess_bridge_")
    base = 1_700_000_000_000_000  # µs
    s = 1_000_000
    b1 = [  # session A (two events), then B's opener 1805 s later (> 30 min gap)
        {"event_id": 1, "ts": base, "user_id": 1, "value": 1.00},
        {"event_id": 2, "ts": base + 5 * s, "user_id": 1, "value": 2.00},
        {"event_id": 3, "ts": base + 1805 * s, "user_id": 1, "value": 4.00},
    ]
    b2 = [
        # straggler at 1795 s: within delay (>= 1805 - 15) and within gap of
        # BOTH A.last (1790 <= 1800) and B.start (10 <= 1800) -> bridges
        {"event_id": 4, "ts": base + 1795 * s, "user_id": 1, "value": 8.00},
        # far-future event finalizes the merged session
        {"event_id": 5, "ts": base + 4000 * s, "user_id": 1, "value": 16.00},
    ]
    now = _time.time()
    for i, rows in enumerate([b1, b2]):
        p = os.path.join(d, f"{i}.jsonl")
        with open(p, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (now + 2 * i, now + 2 * i))
    stream = (
        spark.readStream.schema("event_id long, ts long, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(d)
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )
    out = run_available_now(
        stateful_sessionize(
            stream,
            key="user_id",
            time_col="ts",
            measure="value",
            tiebreak_col="event_id",
            gap_seconds=30 * 60,
            delay_seconds=15,
        ),
        output_mode="append",
    ).collect()
    shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1  # ONE merged session (A + straggler + B), batch-equal
    row = out[0]
    assert row["session_seq"] == 1
    assert row["n_events"] == 4
    assert abs(row["sum_value"] - 15.00) < 1e-9
    assert row["session_start"].timestamp() * 1_000_000 == base
    assert row["session_end"].timestamp() * 1_000_000 == base + 1805 * s


def test_late_rows_dropped_by_watermark(spark):
    """T2 semantics: a row later than the watermark delay is excluded from
    its window's aggregate (reference: 15 s allowed delay).

    Empirically pinned Spark >= 3.4 semantics: LATE-EVENT FILTERING uses the
    PREVIOUS micro-batch's watermark while state EVICTION uses the current
    one — so the drop is observable only when the late row arrives at least
    two batches after the event-time advance. Distinct file mtimes are
    required because the file source orders batches by modification time.
    """
    import time

    import pandas as pd

    d = tempfile.mkdtemp(prefix="late_")
    base = pd.Timestamp("2024-01-01 00:00:00")
    files = [
        # batch 0: advances event time to 00:10:00 (watermark -> 00:09:45)
        pd.DataFrame(
            {"user_id": [1, 1], "ts": [base, base + pd.Timedelta(minutes=10)], "value": [1.0, 1.0]}
        ),
        # batch 1: filler so the late-filter watermark catches up
        pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta(minutes=11)], "value": [1.0]}),
        # batch 2: ~10 min late row — must be DROPPED (not summed anywhere)
        pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta(seconds=30)], "value": [100.0]}),
        # batch 3: advances watermark past everything so windows finalize
        pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta(minutes=20)], "value": [1.0]}),
    ]
    for i, pdf in enumerate(files):
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"p{i}"))
        for j, f in enumerate(sorted(glob.glob(os.path.join(d, f"p{i}", "*.parquet")))):
            shutil.move(f, os.path.join(d, f"{i:02d}_{j}.parquet"))
        shutil.rmtree(os.path.join(d, f"p{i}"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    from ibis_flink_example_spark.schema import schema as mk_schema

    s = mk_schema({"user_id": "int64", "ts": "timestamp", "value": "float64"})
    stream = (
        spark.readStream.schema(s).option("maxFilesPerTrigger", "1").parquet(d)
    ).withWatermark("ts", "15 seconds")
    out = run_available_now(
        tumble(stream, "ts", "1 minute", {"sum_value": dec_sum("value")}),
        output_mode="append",
    )
    pdf = out.toPandas().sort_values("window_start").reset_index(drop=True)
    # the late 100.0 must NOT appear in the first minute's window
    first = pdf[pdf["window_start"] == pdf["window_start"].min()]
    assert (first["sum_value"] == 1.0).all(), pdf.to_string()
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_out_of_order_within_delay(spark):
    """Regression: an out-of-order row within the allowed delay must get its
    EXACT frame (buffer keeps lookback+delay of history); a row more than
    `delay` behind the key's max event time is dropped, not emitted as 0."""
    import time as _time

    import pandas as pd

    d = tempfile.mkdtemp(prefix="ooo_")
    base = pd.Timestamp("2024-01-01 00:00:00")
    files = [
        # batch 0: two in-order rows
        pd.DataFrame({"user_id": [1, 1], "ts": [base, base + pd.Timedelta(seconds=5)],
                      "value": [10.0, 20.0], "event_id": [1, 2]}),
        # batch 1: advances key max to +20s
        pd.DataFrame({"user_id": [1], "ts": [base + pd.Timedelta(seconds=20)],
                      "value": [30.0], "event_id": [3]}),
        # batch 2: one row 12s out of order (within 15s delay -> exact frame:
        # rows at +0s..+8s => 10+20+40) and one 60s late (dropped)
        pd.DataFrame({"user_id": [1, 1],
                      "ts": [base + pd.Timedelta(seconds=8), base - pd.Timedelta(seconds=40)],
                      "value": [40.0, 99.0], "event_id": [4, 5]}),
    ]
    now = _time.time()
    for i, pdf in enumerate(files):
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"p{i}"))
        for j, f in enumerate(sorted(glob.glob(os.path.join(d, f"p{i}", "*.parquet")))):
            dst = os.path.join(d, f"{i:02d}_{j}.parquet")
            shutil.move(f, dst)
            os.utime(dst, (now + 2 * i, now + 2 * i))
        shutil.rmtree(os.path.join(d, f"p{i}"))
    from ibis_flink_example_spark.schema import schema as mk_schema

    s = mk_schema({"user_id": "int64", "ts": "timestamp", "value": "float64", "event_id": "int64"})
    stream = spark.readStream.schema(s).option("maxFilesPerTrigger", "1").parquet(d)
    out = run_available_now(
        stateful_range_over_sum(
            stream, key="user_id", time_col="ts", measure="value", row_id="event_id",
            lookback_seconds=10, delay_seconds=15, out_col="s",
        ),
        output_mode="append",
    ).toPandas().set_index("event_id")["s"].to_dict()
    assert out.get(4) == 70.0, out  # 10+20+40: exact frame despite disorder
    assert 5 not in out, out  # beyond-delay row dropped, not emitted as 0
    assert out.get(3) == 30.0, out
    shutil.rmtree(d, ignore_errors=True)


def test_payment_pipeline_end_to_end(spark, tmp_path):
    """Reference pipeline (SURVEY.md §1.5): JSON wire format → declared
    schema decode → watermark → streaming over-window → JSON sink encode,
    through a file stream standing in for Kafka: ``payment_query_stream``
    drained, checked row for row against the batch form of the same query
    (``payment_query_batch``)."""
    import json
    import random

    from ibis_flink_example_spark.streaming.pipeline import (
        payment_query_batch,
        payment_query_stream,
    )

    rng = random.Random(42)
    d = str(tmp_path)
    rows = []
    t0 = 1_700_000_000_000  # ms
    for i in range(300):
        t0 += rng.randint(100, 3000)
        ts = t0 / 1000.0
        import datetime

        s = datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )[:-3]
        rows.append(
            {
                "createTime": s,
                "orderId": 1_700_000_000 + i,
                "payAmount": round(rng.uniform(0, 100000), 2),
                "payPlatform": 0 if rng.random() < 0.9 else 1,
                "provinceId": rng.randint(0, 6),
            }
        )
    # two files → two micro-batches (the reference streams record-at-a-time);
    # explicit increasing mtimes: the file source orders batches by mtime, and
    # back-to-back writes tie — replay order would be arbitrary
    import time as _time

    now = _time.time()
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        path = os.path.join(d, f"{i:02d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in chunk))
        os.utime(path, (now + 2 * i, now + 2 * i))

    # batch oracle through the identical decode path
    raw_batch = spark.read.text(os.path.join(d, "*.jsonl")).select(
        F.col("value").cast("binary").alias("value")
    )
    payments_batch = decode_json_value(raw_batch, PAYMENT_MSG_SCHEMA)
    assert payments_batch.filter(F.col("createTime").isNull()).count() == 0, (
        "timestampFormat must parse the reference wire format"
    )
    want = payment_query_batch(payments_batch)

    # streaming run: the package's pipeline assembly, drained. Every input
    # row yields one output row, as the live-broker test asserts
    # (tests/test_kafka_integration.py); a design that holds rows back
    # until the watermark passes them fails the exact equality below.
    stream_raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", "1")
        .text(os.path.join(d))
        .select(F.col("value").cast("binary").alias("value"))
    )
    got = run_available_now(
        payment_query_stream(decode_json_value(stream_raw, PAYMENT_MSG_SCHEMA)),
        output_mode="append",
    )
    cols = ["province_id", "pay_amount"]
    assert _sorted_pdf(got, cols).equals(_sorted_pdf(want, cols))

    # sink encode: the JSON wire shape of the reference sink
    # (README.md:115-124 — {"province_id":..,"pay_amount":..})
    sample = encode_json_value(got.limit(1)).collect()
    assert sample and sample[0]["value"].startswith('{"province_id"')


def test_streaming_anomaly_equals_batch(spark, sf_dir):
    """Drained in-order run of the stateful ROWS-frame anomaly operator
    must equal the batch trailing_anomaly_flags output row-for-row
    (same integer-cents z-test, same (ts, id) ordering)."""
    from ibis_flink_example_spark.operators.funnel import trailing_anomaly_flags
    from ibis_flink_example_spark.catalog import load_table
    from ibis_flink_example_spark.queries import QUERIES

    batch = {
        r["event_id"]: (r["n_prior"], r["is_anomaly"])
        for r in trailing_anomaly_flags(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    streamed = QUERIES["streaming_anomaly_zscore"](spark, sf_dir).collect()
    assert len(streamed) == len(batch)
    mismatches = [
        r["event_id"]
        for r in streamed
        if batch[r["event_id"]] != (r["n_prior"], r["is_anomaly"])
    ]
    assert not mismatches, f"{len(mismatches)} rows diverge: {mismatches[:10]}"


def test_streaming_funnel_equals_batch(spark, sf_dir):
    """The drained streaming funnel snapshot must reproduce the batch
    funnel stage counts exactly."""
    from ibis_flink_example_spark.queries import QUERIES

    batch = {
        r["stage"]: (r["stage_idx"], r["n_users"])
        for r in QUERIES["funnel_view_click_purchase"](spark, sf_dir).collect()
    }
    streamed = {
        r["stage"]: (r["stage_idx"], r["n_users"])
        for r in QUERIES["streaming_funnel"](spark, sf_dir).collect()
    }
    assert streamed == batch


def test_incremental_upsert_across_restarts(spark, tmp_path):
    """Restart semantics (T5): a foreachBatch-MERGE view maintained across
    TWO availableNow runs sharing one checkpoint must (a) not reprocess
    the first run's files after restart, and (b) end exactly equal to the
    batch rollup over all data — the incremental-processing contract a
    100 TB pipeline relies on (process only what arrived since the last
    run)."""
    import pyspark.sql.functions as F

    from ibis_flink_example_spark.functions.exact import money
    from ibis_flink_example_spark.streaming.runtime import foreach_batch

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    rows1 = [(1, 10.0), (1, 5.0), (2, 7.0)]
    rows2 = [(1, 2.0), (3, 4.0)]
    schema = "user_id long, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "batch1")
    )

    state = {"totals": {}, "runs": 0}

    def apply_batch(bdf, bid):
        state["runs"] += 1
        for r in (
            bdf.groupBy("user_id").agg(F.sum(money("value")).alias("d")).collect()
        ):
            cur = state["totals"].get(r["user_id"], 0)
            state["totals"][r["user_id"]] = cur + r["d"]

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        foreach_batch(stream, apply_batch, checkpoint=ckpt)

    run_once()
    after_first = dict(state["totals"])
    assert after_first == {1: 15, 2: 7}
    runs_after_first = state["runs"]

    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "batch2")
    )
    run_once()  # restart from the same checkpoint
    # only the NEW file was processed (no double-counting of batch1)
    assert state["totals"] == {1: 17, 2: 7, 3: 4}
    assert state["runs"] > runs_after_first


def test_stateful_sessionize_state_survives_restart(spark, tmp_path):
    """T5 for the sessionize operator: the unsettled-session array state
    must round-trip through the state store across a checkpointed restart
    — two availableNow runs over one checkpoint (stopping mid-corpus with
    an OPEN session and a pending finalization) must emit exactly what one
    drained run over all data emits."""
    import json
    import time as _time

    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    base = 1_700_000_000_000_000
    s = 1_000_000
    # session A (2 events), then B opener — A stays UNSETTLED at the end of
    # run 1 (watermark = B.start - 15 s < A.end + gap): restart must carry it
    b1 = [
        {"event_id": 1, "ts": base, "user_id": 1, "value": 1.00},
        {"event_id": 2, "ts": base + 5 * s, "user_id": 1, "value": 2.00},
        {"event_id": 3, "ts": base + 1805 * s, "user_id": 1, "value": 4.00},
    ]
    # bridging straggler (merges A+B) + a far event closing the merged one
    # + another far event (stays open)
    b2 = [
        {"event_id": 4, "ts": base + 1795 * s, "user_id": 1, "value": 8.00},
        {"event_id": 5, "ts": base + 4000 * s, "user_id": 1, "value": 16.00},
        {"event_id": 6, "ts": base + 8000 * s, "user_id": 1, "value": 32.00},
    ]
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows, mtime):
        p = str(src / name)
        with open(p, "w") as fh:
            fh.write("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (mtime, mtime))

    sink = str(tmp_path / "sink")

    def run_once():
        # file sink: the one built-in sink with full checkpoint recovery
        # (memory sink refuses to recover from a checkpoint)
        stream = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
            .withColumn("ts", F.timestamp_micros(F.col("ts")))
        )
        sess = stateful_sessionize(
            stream,
            key="user_id",
            time_col="ts",
            measure="value",
            tiebreak_col="event_id",
            gap_seconds=30 * 60,
            delay_seconds=15,
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "user_id long, session_seq long, session_start timestamp, "
            "session_end timestamp, n_events long, sum_value double"
        ).parquet(sink)

    now = _time.time()
    write_batch("0.jsonl", b1, now)
    out1 = run_once().collect()
    assert out1 == []  # nothing final yet: A still bridgeable

    write_batch("1.jsonl", b2, now + 2)
    out2 = run_once().collect()
    # restart processed ONLY b2, but carried A in state: the bridging
    # straggler merged A+B (seq 1, 4 events), then event 5's watermark
    # finalized it; session at 4000s closed by event 6's watermark (seq 2)
    got = sorted(
        (r["session_seq"], r["n_events"], r["sum_value"]) for r in out2
    )
    assert got == [(1, 4, 15.0), (2, 1, 16.0)]


_EVENTS_JSON_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double"
)


def _write_json_batch(src, i, rows):
    """Publish ``rows`` as ``src/{i:02d}.jsonl`` in one rename, so a running
    file source never lists a half-written file. The file source replays by
    mtime, so file ``i`` gets a fixed epoch second plus ``i`` as its mtime
    (files written within the same millisecond would otherwise tie and
    replay in any order)."""
    import json

    tmp = os.path.join(os.path.dirname(src), f".{i:02d}.jsonl")
    with open(tmp, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows))
    os.utime(tmp, (1_700_000_000 + i, 1_700_000_000 + i))
    os.replace(tmp, os.path.join(src, f"{i:02d}.jsonl"))


def _events_json_stream(sess, src):
    return (
        sess.readStream.schema(_EVENTS_JSON_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
    )


def _replay_events(i, n_users=3, per_user=4):
    """Micro-batch ``i`` of an in-order event stream: every user gets
    ``per_user`` events 2 s apart, starting 8 s after batch ``i - 1``'s, so
    each batch advances the watermark and frames reach into prior state."""
    base, s = 1_700_000_000_000_000, 1_000_000
    types = ["view", "click", "purchase"]
    return [
        {
            "event_id": (i * n_users + u) * per_user + j,
            "ts": base + (i * 8 + j * 2) * s + u,
            "user_id": u,
            "event_type": types[(i + j + u) % 3],
            "value": round(1.25 * (1 + (i * 7 + j * 3 + u) % 11), 2),
        }
        for u in range(n_users)
        for j in range(per_user)
    ]


@pytest.mark.parametrize(
    "operator, max_compiles_per_batch",
    [("range_over_sum", 1), ("rows_anomaly", 1), ("sessionize", 1), ("funnel", 0)],
)
def test_stateful_state_codegen_is_stable_across_batches(
    spark, tmp_path, operator, max_compiles_per_batch
):
    """Packed keyed state generates the same code every micro-batch, so
    Spark's codegen cache hits from batch to batch. Spark inlines the
    watermark as a literal in the late-event predicate of a watermarked
    stateful operator, which leaves at most one Janino compile per batch
    while the watermark advances; the watermark-free funnel must compile
    nothing. An ``array<bigint>`` state field puts fresh ``MapObjects``
    lambda ids into the state projections every batch (two more compiles
    per batch)."""
    from ibis_flink_example_spark.streaming import stateful
    from ibis_flink_example_spark.streaming.runtime import state_scoped_session

    common = dict(key="user_id", time_col="ts")
    build = {
        "range_over_sum": lambda s: stateful.stateful_range_over_sum(
            s, **common, measure="value", row_id="event_id",
            lookback_seconds=10, delay_seconds=15, out_col="value_sum_10s",
        ),
        "rows_anomaly": lambda s: stateful.stateful_rows_anomaly(
            s, **common, measure="value", row_id="event_id", lookback=5, min_prior=2,
        ),
        "sessionize": lambda s: stateful.stateful_sessionize(
            s, **common, measure="value", tiebreak_col="event_id",
            gap_seconds=5, delay_seconds=15,
        ),
        "funnel": lambda s: stateful.stateful_funnel_stages(
            s, ["view", "click", "purchase"], **common, type_col="event_type",
        ),
    }[operator]
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return codegen.METRIC_COMPILATION_TIME().getCount()

    src = tmp_path / "src"
    src.mkdir()
    sess = state_scoped_session(spark, 2)
    q = (
        build(_events_json_stream(sess, str(src)))
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    n_warm, n_measured = 2, 4
    try:
        for i in range(n_warm + n_measured):
            if i == n_warm:
                before = compiles()
            _write_json_batch(str(src), i, _replay_events(i))
            q.processAllAvailable()
        added = compiles() - before
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == n_warm + n_measured, batches
    assert added <= max_compiles_per_batch * n_measured, (
        f"{operator}: {added} codegen compiles over {n_measured} micro-batches"
    )


_BIN, _LONG = "binary", "bigint"


@pytest.mark.parametrize(
    "operator, state_fields",
    [
        ("range_over_sum", [("ts_us", _BIN), ("cents", _BIN)]),
        ("rows_anomaly", [("ts_us", _BIN), ("ids", _BIN), ("cents", _BIN)]),
        ("funnel", [("times", _BIN), ("seq", _LONG)]),
        (
            "sessionize",
            [("starts", _BIN), ("lasts", _BIN), ("ns", _BIN), ("cents", _BIN),
             ("emitted_seq", _LONG), ("max_seen", _LONG)],
        ),
    ],
)
def test_stateful_state_schema_is_pinned(spark, tmp_path, operator, state_fields):
    """The state struct each operator plans carries exactly these fields,
    in this order and with these types: a checkpoint's state must stay
    readable on restart, and only binary and long fields keep the state
    projections' generated code stable across micro-batches."""
    from ibis_flink_example_spark.streaming import stateful

    common = dict(key="user_id", time_col="ts")
    stream = _events_json_stream(spark, str(tmp_path))
    df = {
        "range_over_sum": lambda: stateful.stateful_range_over_sum(
            stream, **common, measure="value", row_id="event_id",
            lookback_seconds=10, delay_seconds=15, out_col="s",
        ),
        "rows_anomaly": lambda: stateful.stateful_rows_anomaly(
            stream, **common, measure="value", row_id="event_id",
        ),
        "funnel": lambda: stateful.stateful_funnel_stages(
            stream, ["view", "click"], **common, type_col="event_type",
        ),
        "sessionize": lambda: stateful.stateful_sessionize(
            stream, **common, measure="value", tiebreak_col="event_id",
            gap_seconds=5, delay_seconds=15,
        ),
    }[operator]()

    def find(node):
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node
        kids = node.children()
        return next(
            (n for n in (find(kids.apply(i)) for i in range(kids.size())) if n), None
        )

    state_type = find(df._jdf.queryExecution().analyzed()).stateType()
    got = [(f.name, f.dataType.simpleString()) for f in T.StructType.fromJson(
        json.loads(state_type.json())
    ).fields]
    assert got == state_fields


def test_stateful_over_window_state_survives_restart(spark, tmp_path):
    """The flagship's packed (ts, cents) buffers round-trip through the
    RocksDB state store across a checkpointed restart: a run stopped after
    half the replay and restarted on the same checkpoint emits exactly what
    one uninterrupted run emits, and both equal the batch RANGE sum."""
    from ibis_flink_example_spark.streaming.runtime import state_scoped_session

    n_files = 6
    batches = [_replay_events(i) for i in range(n_files)]
    sess = state_scoped_session(spark, 2)
    out_schema = "event_id long, user_id long, ts timestamp, value_sum_10s double"

    def run(src, name):
        q = (
            stateful_range_over_sum(
                _events_json_stream(sess, str(src)),
                key="user_id", time_col="ts", measure="value", row_id="event_id",
                lookback_seconds=10, delay_seconds=15, out_col="value_sum_10s",
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"sink_{name}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sess.read.schema(out_schema).parquet(str(tmp_path / f"sink_{name}"))

    restarted_src, whole_src = tmp_path / "src_restarted", tmp_path / "src_whole"
    restarted_src.mkdir()
    whole_src.mkdir()
    for i, rows in enumerate(batches):
        _write_json_batch(str(whole_src), i, rows)
    for i in range(n_files // 2):
        _write_json_batch(str(restarted_src), i, batches[i])
    first = run(restarted_src, "restarted").count()
    assert 0 < first < sum(map(len, batches))
    for i in range(n_files // 2, n_files):
        _write_json_batch(str(restarted_src), i, batches[i])
    restarted = run(restarted_src, "restarted")
    whole = run(whole_src, "whole")

    oracle = range_over_sum(
        sess.createDataFrame([r for b in batches for r in b], _EVENTS_JSON_SCHEMA)
        .withColumn("ts", F.timestamp_micros(F.col("ts"))),
        key="user_id", time_col="ts", measure="value",
        lookback_seconds=10, out_col="value_sum_10s",
        keep=["event_id", "user_id", "ts"],
    )
    cols = ["event_id", "user_id", "ts", "value_sum_10s"]
    want = _sorted_pdf(oracle, cols)
    assert _sorted_pdf(restarted, cols).equals(want)
    assert _sorted_pdf(whole, cols).equals(want)


def test_rocksdb_state_store_provider_active(spark, tmp_path):
    """The state_scoped_session default must ACTUALLY run stateful operators
    on the RocksDB state store (not just set a conf string): the drained
    query's progress must expose rocksdb* custom state metrics, and the
    stateful result must equal the same aggregation under the default HDFS
    provider (provider choice is a storage decision, never a semantics
    one). This is the 100 TB keyed-state design claim made executable
    (VERDICT r6 'What's missing' #2)."""
    from ibis_flink_example_spark.streaming.runtime import (
        ROCKSDB_PROVIDER,
        state_scoped_session,
    )

    src = str(tmp_path / "src")
    spark.range(0, 2000).selectExpr(
        "id",
        "timestamp_micros(1700000000000000 + id*500000) as ts",
        "id % 13 as k",
        "cast(id % 97 as double) as v",
    ).write.mode("overwrite").parquet(src)

    def drain(state_store):
        s = state_scoped_session(spark, 4, state_store=state_store)
        stream = (
            s.readStream.schema("id long, ts timestamp, k long, v double")
            .parquet(src)
            .withWatermark("ts", "10 seconds")
        )
        agg = stream.groupBy(F.window("ts", "60 seconds"), "k").agg(
            F.count("*").alias("n"), dec_sum("v").alias("sum_v")
        )
        name = f"rocks_{state_store}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{state_store}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        metrics = q.lastProgress["stateOperators"][0].get("customMetrics", {})
        return s.table(name), metrics, s

    rocks_df, rocks_metrics, s_rocks = drain("rocksdb")
    hdfs_df, hdfs_metrics, s_hdfs = drain("hdfs")

    # conf actually landed on the scoped clone (and ONLY there)
    assert (
        s_rocks.conf.get("spark.sql.streaming.stateStore.providerClass")
        == ROCKSDB_PROVIDER
    )
    assert "RocksDB" not in s_hdfs.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )  # caller session untouched

    # ... and the runtime used it: rocksdb custom metrics exist only there
    assert any(k.startswith("rocksdb") for k in rocks_metrics), rocks_metrics
    assert not any(k.startswith("rocksdb") for k in hdfs_metrics)

    # provider choice never changes results
    cols = ["k", "n", "sum_v"]
    a = _sorted_pdf(rocks_df.select(*cols), cols)
    b = _sorted_pdf(hdfs_df.select(*cols), cols)
    assert a.equals(b) and len(a) > 0


# ---------------------------------------------------------------------------
# Deliberately DISORDERED replay (VERDICT r7 #6): the ordered multi-batch
# tests above replay time-contiguous files; these replay a stream with
# (a) hash-shuffled row order inside every file and (b) straggler cohorts
# 4-14 s late across micro-batch boundaries — within the 15 s watermark
# allowance, so nothing may be dropped. The fixture events span ~30 days
# (sub-15 s cross-batch lateness is unconstructible from them directly),
# so event times are first compressed onto a ~10-minute axis — order and
# tie structure preserved, watermark/lookback windows now DENSE.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def events_disordered_replay(spark, sf_dir):
    """(replay_dir, pandas frame with arrival-file index) for the compressed
    disordered stream: 4 files; base file = time quartile; rows in the
    [boundary-14s, boundary-4s) band of each quartile arrive one file LATE;
    row order inside each file is xxhash-shuffled."""
    import time as _time

    import pandas as pd  # noqa: F401

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    b = e.select(F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    factor = (hi - lo) // 600_000_000 + 1  # compress span to <= 600 s
    comp = e.select(
        "event_id", "user_id", "value",
        F.timestamp_micros(F.expr(f"{lo} + (unix_micros(ts) - {lo}) DIV {factor}")).alias("ts"),
    )
    step = 150_000_000  # 4 quartiles over the <=600 s compressed axis
    us = F.unix_micros("ts") - F.lit(lo)
    base_file = F.least(F.floor(us / step).cast("int"), F.lit(3))
    # boundary of this row's quartile; rows in [b-14s, b-4s) slip a file
    boundary = (base_file + 1).cast("long") * step
    straggler = (base_file < 3) & (us >= boundary - 14_000_000) & (us < boundary - 4_000_000)
    tagged = comp.withColumn(
        "file", (base_file + straggler.cast("int")).alias("file")
    )
    pdf = tagged.toPandas()
    d = tempfile.mkdtemp(prefix="events_disordered_")
    now = _time.time()
    for i in range(4):
        chunk = tagged.filter(F.col("file") == i).drop("file").orderBy(
            F.xxhash64("event_id")  # deliberate intra-file disorder
        )
        _stage_chunk(chunk, d, i, now)
    yield d, pdf
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_over_window_disordered_replay(spark, events_disordered_replay):
    """The keyed-state RANGE sum under deliberately disordered input
    partitions: every row (none is droppable — lateness < 15 s) is emitted
    with the RANGE sum over rows SEEN UP TO ITS ARRIVAL BATCH — the
    operator's documented arrival-prefix semantics (streaming/stateful.py:
    emitted rows are never retro-corrected when a later straggler lands
    inside their frame; the straggler itself still gets its exact,
    complete frame)."""
    import numpy as np
    import pandas as pd

    d, pdf = events_disordered_replay
    stream = _stream_events(spark, d)
    streamed = run_available_now(
        stateful_range_over_sum(
            stream, key="user_id", time_col="ts", measure="value",
            row_id="event_id", lookback_seconds=10, delay_seconds=15,
            out_col="value_sum_10s",
        ),
        output_mode="append",
    ).toPandas()
    # the disorder is real: straggler cohort is non-empty
    us = pdf["ts"].astype("datetime64[us]").astype("int64")
    rel = us - us.min()
    base = np.minimum(rel // 150_000_000, 3)
    n_stragglers = int((pdf["file"] > base).sum())
    assert n_stragglers > 0, "fixture produced no cross-batch stragglers"
    # nothing dropped
    assert len(streamed) == len(pdf)
    # arrival-prefix expectation, computed independently in pandas
    cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    ts_us = us.to_numpy()
    fl = pdf["file"].to_numpy()
    uid = pdf["user_id"].to_numpy()
    expected = np.zeros(len(pdf), dtype=np.int64)
    for u in np.unique(uid):
        m = uid == u
        t, f, c = ts_us[m], fl[m], cents[m]
        exp = np.array([
            c[(t >= t[i] - 10_000_000) & (t <= t[i]) & (f <= f[i])].sum()
            for i in range(len(t))
        ])
        expected[np.flatnonzero(m)] = exp
    want = pd.DataFrame({"event_id": pdf["event_id"].to_numpy(), "want": expected / 100.0})
    got = streamed.merge(want, on="event_id")
    assert len(got) == len(pdf)
    assert (got["value_sum_10s"] == got["want"]).all(), (
        got[got["value_sum_10s"] != got["want"]].head()
    )


def test_stateful_sessionize_disordered_replay(spark, events_disordered_replay):
    """Sessionize under disordered partitions: emission is WATERMARK-FINAL,
    so unlike the over-window the output must equal the full batch
    gaps-and-islands result (10 s gap on the compressed axis) restricted
    to per-user-final sessions — within-delay stragglers extend or bridge
    sessions in state and can never contradict the batch answer."""
    from pyspark.sql.window import Window

    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    d, pdf = events_disordered_replay
    gap_s = 10
    streamed = run_available_now(
        stateful_sessionize(
            _stream_events(spark, d),
            key="user_id", time_col="ts", measure="value",
            tiebreak_col="event_id", gap_seconds=gap_s, delay_seconds=15,
        ),
        output_mode="append",
    )
    comp = spark.createDataFrame(pdf.drop(columns=["file"]))
    ordered = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev_ts = F.lag("ts").over(ordered)
    new_session = (
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > gap_s * 1_000_000)
    ).cast("int")
    running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (
        comp.select(
            "user_id", "ts", "value",
            F.sum(new_session).over(running).alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
        .withColumn(
            "max_ts_us",
            F.max(F.unix_micros("session_end")).over(Window.partitionBy("user_id")),
        )
        .where(
            F.col("max_ts_us") - 15 * 1_000_000
            > F.unix_micros("session_end") + gap_s * 1_000_000
        )
        .drop("max_ts_us")
    )
    cols = ["user_id", "session_seq", "session_start", "session_end", "n_events", "sum_value"]
    want = _sorted_pdf(batch, cols)
    got = _sorted_pdf(streamed, cols)
    assert len(want) > 0, "compressed axis produced no final sessions"
    assert want.equals(got)


def test_idempotent_partition_overwrite_survives_redelivery(spark):
    """The T5 sink contract, proven in isolation: (1) re-delivering a
    batch leaves the table byte-identical (the at-least-once restart
    case an in-memory guard cannot cover); (2) the overwrite replaces
    ONLY the delivered partition — other batches' partitions are
    untouched; (3) the negative control: a plain append sink DOES
    duplicate under the same replay."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.streaming.runtime import (
        idempotent_partition_overwrite,
    )

    t = "idem_sink_unit_test"
    drop_table_and_location(spark, t)
    spark.sql(
        f"CREATE TABLE {t} (k BIGINT, v STRING) USING parquet "
        "PARTITIONED BY (arrival INT)"
    )
    try:
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        b1 = spark.createDataFrame([(3, "c")], "k long, v string")
        idempotent_partition_overwrite(b0, t, "arrival", 0)
        idempotent_partition_overwrite(b1, t, "arrival", 1)
        before = sorted(map(tuple, spark.table(t).collect()))
        assert len(before) == 3
        # replay batch 1 (same rows, same partition): no change
        idempotent_partition_overwrite(b1, t, "arrival", 1)
        assert sorted(map(tuple, spark.table(t).collect())) == before
        # replay batch 1 with DIFFERENT content: only partition 1 changes
        idempotent_partition_overwrite(
            spark.createDataFrame([(9, "z")], "k long, v string"), t, "arrival", 1
        )
        after = sorted(map(tuple, spark.table(t).collect()))
        assert (1, "a", 0) in after and (2, "b", 0) in after
        assert (9, "z", 1) in after and (3, "c", 1) not in after
        # negative control: append doubles under the same replay
        b1.withColumn("arrival", F.lit(1)).write.mode("append").insertInto(t)
        b1.withColumn("arrival", F.lit(1)).write.mode("append").insertInto(t)
        assert spark.table(t).filter("k = 3").count() == 2
    finally:
        drop_table_and_location(spark, t)


def test_ingest_aqe_dial_is_size_aware(spark):
    """_ingest_conf sizes AQE to the micro-batch: tiny batches run static
    plans (AQE's per-exchange replan rounds are pure fixed latency there,
    measured 34->15 s on the semdedup replay); cluster-sized batches keep
    AQE's coalescing/skew-split."""
    from ibis_flink_example_spark.streaming.ingest import (
        _INGEST_AQE_MIN_BATCH_BYTES,
        _ingest_conf,
    )

    clone = spark.newSession()
    # small batch: static plans
    _ingest_conf(clone, approx_batch_bytes=1024)
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    # cluster-sized batch: AQE stays on
    _ingest_conf(clone, approx_batch_bytes=_INGEST_AQE_MIN_BATCH_BYTES)
    assert clone.conf.get("spark.sql.adaptive.enabled") == "true"


def test_drained_runs_leave_no_checkpoint_dirs(spark, sf_dir, tmp_path, monkeypatch):
    """A replay ingest, an availableNow memory-sink run and an availableNow
    foreachBatch run each mint a fresh checkpoint directory and remove it
    once the drained query has terminated, so repeated runs do not pile up
    ``ckpt_*`` dirs."""
    from ibis_flink_example_spark.queries import QUERIES
    from ibis_flink_example_spark.streaming.runtime import foreach_batch, run_available_now

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES["streaming_exactly_once_sink"](spark, sf_dir).count() > 0
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    assert run_available_now(spark.readStream.schema("id long").parquet(src)).count() == 5
    seen = []
    q = foreach_batch(
        spark.readStream.schema("id long").parquet(src),
        lambda bdf, bid: seen.append(bdf.count()),
    )
    assert not q.isActive and sum(seen) == 5
    assert not list(tmp_path.glob("ckpt_*"))


@pytest.mark.parametrize(
    "files",
    [
        # tag 1's file is older than tag 0's: mtimes invert arrival order
        pytest.param([[1, 1], [0, 0]], id="mtimes_invert_arrival_order"),
        pytest.param([[0, 1]], id="two_tags_in_one_file"),
    ],
)
def test_replay_disorder_raises(spark, tmp_path, monkeypatch, files):
    """The replay harness's arrival-order check refuses a batch whose
    arrival tags do not follow the ones already applied, or that carries
    more than one tag, and the step's own error reaches the caller."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ibis_flink_example_spark.streaming import ingest

    stage = tmp_path / "stage"
    stage.mkdir()
    base = time.time() - 3600
    for k, tags in enumerate(files):
        p = str(stage / f"batch_{k}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(len(tags)), pa.int64()),
                    "arrival_batch": pa.array(tags, pa.int32()),
                }
            ),
            p,
        )
        os.utime(p, (base + 2 * k, base + 2 * k))
    monkeypatch.setattr(
        ingest, "_stage", lambda *_: (str(stage), "id long, arrival_batch int")
    )
    with pytest.raises(RuntimeError, match="replay disorder"):
        ingest.replay_ingest(
            spark,
            str(tmp_path),
            "disorder_replay",
            source="unused",
            columns=("id",),
            step=lambda bdf, ctx: ctx.probe(bdf),
        )
