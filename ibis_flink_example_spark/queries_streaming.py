"""Time-window queries (W3) and genuinely-streaming runs surfaced as batch
results for the driver's oracle.

The ``streaming_*`` entries really execute through Structured Streaming
(file stream source → watermark → stateful plan → availableNow → memory
sink) and return the drained result — so the driver's DuckDB comparison
checks true batch-vs-stream equivalence, the reference's core semantics
(SURVEY.md §5).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ibis_flink_example_spark.catalog import load_table, scratch_dir, table_path
from ibis_flink_example_spark.functions.exact import dec_sum
from ibis_flink_example_spark.operators.checkpoints import (
    release_eager_checkpoints,
)
from ibis_flink_example_spark.operators.time_windows import session, slide, tumble
from ibis_flink_example_spark.queries import query
from ibis_flink_example_spark.schema import EVENTS_SCHEMA
from ibis_flink_example_spark.streaming.ingest import (
    STATE_PARTS,
    IngestContext,
    append_bucketed,
    replay_ingest,
)

# ---------------------------------------------------------------------------
# W3 batch forms
# ---------------------------------------------------------------------------

_TUMBLE_ORACLE = """
SELECT
  time_bucket(INTERVAL 1 MINUTE, ts) AS window_start,
  time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE AS window_end,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@query("tumble_1m", oracle=_TUMBLE_ORACLE)
def tumble_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 tumbling 1-minute windows per event_type."""
    e = load_table(spark, sf_dir, "events")
    return tumble(
        e,
        "ts",
        "1 minute",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dec_sum("value"),
        },
        keys=["event_type"],
    )


_SLIDE_ORACLE = """
WITH g AS (SELECT UNNEST(range(0, 5)) AS k)
SELECT
  time_bucket(INTERVAL 1 MINUTE, ts) - k * (INTERVAL 1 MINUTE) AS window_start,
  time_bucket(INTERVAL 1 MINUTE, ts) - k * (INTERVAL 1 MINUTE) + INTERVAL 5 MINUTE AS window_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events CROSS JOIN g
WHERE ts < time_bucket(INTERVAL 1 MINUTE, ts) - k * (INTERVAL 1 MINUTE) + INTERVAL 5 MINUTE
GROUP BY 1, 2
"""


@query("slide_5m_1m", oracle=_SLIDE_ORACLE)
def slide_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 sliding windows: 5-minute size advancing every 1 minute (each row
    contributes to 5 windows — the oracle enumerates them explicitly)."""
    e = load_table(spark, sf_dir, "events")
    return slide(
        e,
        "ts",
        "5 minutes",
        "1 minute",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dec_sum("value"),
        },
    )


_SESSION_ORACLE = """
WITH marked AS (
  SELECT
    user_id, ts, value,
    CASE
      WHEN LAG(ts) OVER w IS NULL THEN 1
      WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000 THEN 1
      ELSE 0
    END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
  ) AS session_no
  FROM marked
)
SELECT
  user_id,
  MIN(ts) AS window_start,
  MAX(ts) + INTERVAL 30 MINUTE AS window_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered
GROUP BY user_id, session_no
"""


@query("session_30m", oracle=_SESSION_ORACLE)
def session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 session windows with a 30-minute inactivity gap per user. The
    oracle reproduces gap-merge semantics via lag-based island detection
    (sessions are [min_ts, max_ts + gap); a gap of exactly 30 min splits)."""
    e = load_table(spark, sf_dir, "events")
    out = session(
        e,
        "ts",
        "30 minutes",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dec_sum("value"),
        },
        keys=["user_id"],
    )
    return out.select("user_id", "window_start", "window_end", "n_events", "sum_value")


# ---------------------------------------------------------------------------
# True Structured-Streaming runs (availableNow → memory sink → batch result)
# ---------------------------------------------------------------------------


def _stream_dir_for(path: str) -> str:
    """FileStreamSource needs a DIRECTORY; the fixture is a single parquet
    file — expose it through a stable scratch dir holding a symlink."""
    import os

    d = scratch_dir("stream_src", path)
    try:
        os.symlink(path, os.path.join(d, os.path.basename(path)))
    except FileExistsError:  # made by an earlier run
        pass
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture replayed through the streaming file source.

    The stream is built on a ``state_scoped_session`` CLONE of the caller's
    session (shared context/catalog, private SQLConf) carrying
    ``STATE_PARTS`` shuffle/state partitions — every downstream stage and
    ``run_available_now``/``foreach_batch`` inherit it through the
    DataFrame, so no streaming query ever mutates the caller's session
    conf (concurrency-safe; the decode flags below also land on the clone).

    The physical timestamp unit of the fixture decides the decode path
    (mirrors the batch reader, sources/files.py): TIMESTAMP(NANOS) fixtures
    are read as int64-ns under ``nanosAsLong`` then lowered with ``div
    1000``; µs fixtures (naive, isAdjustedToUTC=false) read directly against
    the declared TimestampType schema under the UTC session timezone.
    """
    from ibis_flink_example_spark.schema import EVENTS_SCHEMA, schema as mk_schema
    from ibis_flink_example_spark.sources.files import _nanos_timestamp_columns
    from ibis_flink_example_spark.streaming.runtime import state_scoped_session

    spark = state_scoped_session(spark, STATE_PARTS)
    path = table_path(sf_dir, "events")
    if "ts" in _nanos_timestamp_columns(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw_schema = mk_schema(
            {
                "event_id": "int64",
                "ts": "int64",  # ns since epoch under nanosAsLong
                "user_id": "int64",
                "event_type": "string",
                "value": "float64",
                "props": "string",
            }
        )
        raw = spark.readStream.schema(raw_schema).parquet(_stream_dir_for(path))
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(_stream_dir_for(path))


@query(
    "streaming_tumble_1m",
    # APPEND mode (the scale-safe choice: complete mode retains every
    # window ever emitted in the state store — unbounded at 100×): a window
    # is emitted once the watermark passes its END, and a drained
    # availableNow run's final watermark is max(ts) - 15 s, so the oracle
    # is the batch rollup restricted to closed windows.
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 15 SECOND AS w FROM events)
SELECT
  time_bucket(INTERVAL 1 MINUTE, ts) AS window_start,
  time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE AS window_end,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, wm
GROUP BY 1, 2, 3, wm.w
HAVING time_bucket(INTERVAL 1 MINUTE, MIN(ts)) + INTERVAL 1 MINUTE <= wm.w
""",
)
def streaming_tumble_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumble_1m query executed as a REAL streaming job (file source,
    15 s watermark, APPEND mode + watermark-evicted state, availableNow).
    Append is the 100 TB mode: closed windows are emitted once and their
    state evicted; complete mode would hold every window forever. The
    oracle is the batch rollup cut at the drained run's final watermark —
    batch-vs-stream equivalence on the closed-window set."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir).withWatermark("ts", "15 seconds")
    agged = tumble(
        stream,
        "ts",
        "1 minute",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dec_sum("value"),
        },
        keys=["event_type"],
    )
    return run_available_now(agged, output_mode="append")


_STREAMING_OVER_ORACLE = """
SELECT
  event_id,
  user_id,
  ts,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 10 SECONDS PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS value_sum_10s
FROM events
"""


@query("streaming_over_range_sum", oracle=_STREAMING_OVER_ORACLE)
def streaming_over_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP executed as a real streaming job via the keyed-state
    operator ``stateful_range_over_sum`` (streaming/stateful.py): per-key
    buffer state under applyInPandasWithState, exactly Flink's
    OverAggregate shape (window_aggregation.py:73-80). Emits one row per
    input row per batch, so a drained availableNow run equals the batch
    window-function oracle row-for-row."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now
    from ibis_flink_example_spark.streaming.stateful import stateful_range_over_sum

    stream = _events_stream(spark, sf_dir)
    agged = stateful_range_over_sum(
        stream,
        key="user_id",
        time_col="ts",
        measure="value",
        row_id="event_id",
        lookback_seconds=10,
        delay_seconds=15,
        out_col="value_sum_10s",
    )
    return run_available_now(agged, output_mode="append")


_SINK_ROUNDTRIP_TABLE = "streaming_sink_roundtrip_tbl"


@query(
    "streaming_sink_roundtrip",
    # Append mode emits a window once the watermark passes its END; the
    # final watermark of a drained run is max(ts) - 15 s.
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 15 SECOND AS w FROM events)
SELECT
  time_bucket(INTERVAL 1 MINUTE, ts) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, wm
GROUP BY 1, 2, wm.w
HAVING time_bucket(INTERVAL 1 MINUTE, MIN(ts)) + INTERVAL 1 MINUTE <= wm.w
""",
)
def streaming_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL pipeline shape, sink included: stream → windowed
    aggregate → INSERT INTO a registered sink table → read the sink back
    (reference: window_aggregation.py:83 ``con.insert(...)`` + :85-90
    consumer tap). The sink write is ``foreachBatch`` + batch
    ``insertInto`` — the production pattern for streaming into warehouse
    tables (each micro-batch appends atomically new files; exactly the
    at-least-once contract the reference runs with). Returned rows are the
    RE-READ sink table, so the oracle checks the whole write path, not the
    in-memory stream."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.functions.exact import money
    from ibis_flink_example_spark.streaming.runtime import foreach_batch

    drop_table_and_location(spark, _SINK_ROUNDTRIP_TABLE)
    spark.sql(
        f"""CREATE TABLE {_SINK_ROUNDTRIP_TABLE}
        (window_start TIMESTAMP, event_type STRING, n_events BIGINT,
         sum_value DOUBLE) USING parquet"""
    )
    stream = _events_stream(spark, sf_dir).withWatermark("ts", "15 seconds")
    agged = (
        stream.groupBy(F.window("ts", "1 minute"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # State partitions are scoped to the stream's private session clone
    # (see _events_stream) — the caller's session conf is never touched.
    foreach_batch(agged, lambda bdf, bid: bdf.write.insertInto(_SINK_ROUNDTRIP_TABLE))
    return spark.table(_SINK_ROUNDTRIP_TABLE)


@query(
    "streaming_dedup_events",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 streaming dedup: dropDuplicatesWithinWatermark over the replayed
    events stream — state per distinct key, evicted once the watermark
    passes (bounded state, unlike plain streaming dropDuplicates which
    retains keys forever). Only the dedup key columns are emitted, so the
    result is survivor-order-independent and equals batch DISTINCT exactly
    in a drained availableNow run."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "15 seconds")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(stream, output_mode="append")


@query(
    "streaming_stream_join",
    oracle="""
SELECT
  p.event_id AS purchase_id,
  v.event_id AS view_id,
  CAST(v.value AS DOUBLE) AS view_value
FROM events p
JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 10 MINUTE
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
""",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 as a REAL stream-stream interval join (SURVEY §2.3): purchases
    matched to same-user views in the preceding 10 minutes, both sides
    watermarked so join state is evicted once the watermark clears the time
    bound (state ∝ watermark+bound window, not the stream's history). Inner
    join emits pairs as they match, so a drained availableNow run equals the
    batch range-join oracle exactly. At 100 TB both sides shuffle once on
    user_id; the time bound keeps pair volume linear in view density."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    base = _events_stream(spark, sf_dir)
    p = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "15 seconds")
    )
    v = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", "15 seconds")
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "view_id", "view_value")
    return run_available_now(joined, output_mode="append")


@query(
    "streaming_session_30m",
    # APPEND mode: a session is final (and its state evicted) once the
    # watermark passes its end (= last event + 30 min gap); the drained
    # run's final watermark is max(ts) - 15 s. Complete mode — the previous
    # formulation — retains every session ever closed in the state store,
    # which is unbounded at 100×. The oracle is the batch lag-island
    # rollup restricted to closed sessions.
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 15 SECOND AS w FROM events),
marked AS (
  SELECT
    user_id, ts, value,
    CASE
      WHEN LAG(ts) OVER w IS NULL THEN 1
      WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000 THEN 1
      ELSE 0
    END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
  ) AS session_no
  FROM marked
)
SELECT
  user_id,
  MIN(ts) AS window_start,
  MAX(ts) + INTERVAL 30 MINUTE AS window_end,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered, wm
GROUP BY user_id, session_no, wm.w
HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm.w
""",
)
def streaming_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 session windows executed as a REAL streaming job in APPEND mode:
    session_window + watermark emits each merged session exactly once when
    the watermark passes its end and evicts its state — the bounded-state
    100 TB shape (complete mode retains all history). Equals the batch
    lag-island oracle on the closed-session set."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir).withWatermark("ts", "15 seconds")
    agged = session(
        stream,
        "ts",
        "30 minutes",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dec_sum("value"),
        },
        keys=["user_id"],
    )
    out = run_available_now(agged, output_mode="append")
    return out.select("user_id", "window_start", "window_end", "n_events", "sum_value")


@query(
    "streaming_static_join",
    oracle="""
SELECT e.event_id, e.user_id, u.cohort, CAST(e.value AS DOUBLE) AS value
FROM events e
JOIN (SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events) u
  ON e.user_id = u.user_id
""",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (SURVEY §2.3 J1 in streaming form): the replayed
    events stream enriched against a STATIC dimension (a derived user →
    cohort table) via broadcast hash join. Stateless — no watermark, no
    join state, every micro-batch joins against the same static snapshot;
    this is the idiomatic streaming enrichment shape at 100 TB (static side
    broadcast once per batch, stream side never shuffles)."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.col("user_id") % 10)
    )
    joined = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "cohort", "value"
    )
    return run_available_now(joined, output_mode="append")


@query(
    "streaming_chained_windows",
    # Append mode emits an outer window only once the watermark passes its
    # end, and the final watermark of a drained run is max(ts) - 15 s — so
    # the oracle applies the same cutoff to the batch rollup.
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 15 SECOND AS w FROM events)
SELECT
  time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events, wm
GROUP BY 1, 2, wm.w
HAVING time_bucket(INTERVAL 10 MINUTE, MIN(ts)) + INTERVAL 10 MINUTE <= wm.w
""",
)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations in ONE streaming query (Spark 3.4+/4.x
    multi-stateful support): 1-minute tumbling pre-aggregate rolled up into
    10-minute windows, both windows in the same micro-batch pipeline. The
    inner window does the map-side-style data reduction; the outer one
    aggregates 10x fewer rows — the standard streaming rollup cascade.
    Multi-stateful requires append mode, so closed-window results flow once
    the watermark passes (the oracle mirrors the cutoff)."""
    from ibis_flink_example_spark.functions.exact import money
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir).withWatermark("ts", "15 seconds")
    inner = stream.groupBy(F.window("ts", "1 minute"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("__n1"),
        F.sum(money("value")).alias("__s1"),
    )
    outer = inner.groupBy(
        F.window(F.col("window"), "10 minutes").alias("__w"), F.col("event_type")
    ).agg(
        F.sum("__n1").alias("n_events"),
        F.sum("__s1").cast("double").alias("sum_value"),
    )
    out = run_available_now(
        outer.select(
            F.col("__w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        ),
        output_mode="append",
    )
    return out


@query("streaming_anomaly_zscore", oracle=None)
def streaming_anomaly_zscore_rowsonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_anomaly_zscore``: per-key ROWS-frame
    mean±3σ flags via a custom stateful operator
    (streaming/stateful.py:stateful_rows_anomaly — O(lookback) state per
    key, integer-cents z-test). A drained in-order run reproduces the
    batch semantics row-for-row; tests/test_streaming.py asserts exact
    equality against the batch operator, and the registry twin carries
    the full SQL oracle. Registered rows-only because ROWS-frame results
    under arbitrary arrival order are not SQL-expressible (the batch
    oracle assumes the replay's total order)."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now
    from ibis_flink_example_spark.streaming.stateful import stateful_rows_anomaly

    stream = _events_stream(spark, sf_dir)
    flagged = stateful_rows_anomaly(
        stream,
        key="user_id",
        time_col="ts",
        measure="value",
        row_id="event_id",
        lookback=20,
        min_prior=5,
        z_threshold=3,
        delay_seconds=15,
    )
    return run_available_now(flagged, output_mode="append")


def _FUNNEL_ORACLE_REF() -> str:
    from ibis_flink_example_spark.queries_analytics import FUNNEL_ORACLE

    return FUNNEL_ORACLE


@query("streaming_funnel", oracle=_FUNNEL_ORACLE_REF())
def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel: per-user stage-completion times as O(1) keyed
    state (streaming/stateful.py:stateful_funnel_stages), drained snapshot
    rolled up to (stage, stage_idx, n_users). A drained in-order run
    equals the batch funnel exactly (pinned in tests), so it carries the
    same independent join-chain SQL oracle as the batch query — the
    drained-run contract every streaming entry in this registry uses."""
    from ibis_flink_example_spark.operators.funnel import funnel_counts  # noqa: F401
    from ibis_flink_example_spark.streaming.runtime import run_available_now
    from ibis_flink_example_spark.streaming.stateful import stateful_funnel_stages

    steps = ["view", "click", "purchase"]
    stream = _events_stream(spark, sf_dir)
    staged = stateful_funnel_stages(
        stream, steps, key="user_id", time_col="ts", type_col="event_type"
    )
    drained = run_available_now(staged, output_mode="append")
    # final snapshot per user = the max-update_seq emission
    final = drained.groupBy("user_id").agg(
        *[
            F.max_by(f"t_{s}_us", "update_seq").alias(f"t_{s}_us")
            for s in steps
        ]
    )
    counts = final.agg(
        *[
            F.count(F.when(F.col(f"t_{s}_us") != -1, 1)).alias(f"n_{i}")
            for i, s in enumerate(steps)
        ]
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(s).alias("stage"),
                F.lit(i + 1).alias("stage_idx"),
                F.col(f"n_{i}").alias("n_users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(stages).alias("x")).select("x.*")


@query(
    "streaming_sessionize",
    # WATERMARK-FINAL emission: a session is emitted once the key's
    # watermark (max seen ts - 15 s) passes session_end + 30 min — only
    # then can no admissible straggler extend or bridge it. A drained
    # in-order run therefore equals the batch gaps-and-islands sessionize
    # restricted to sessions final under each user's end-of-stream
    # watermark.
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT user_id, ts, value,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_seq
  FROM g
), r AS (
  SELECT user_id, session_seq,
    MIN(ts) AS session_start,
    MAX(ts) AS session_end,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM s GROUP BY 1, 2
), m AS (
  SELECT user_id, MAX(ts) AS mx FROM events GROUP BY 1
)
SELECT r.user_id, r.session_seq, r.session_start, r.session_end,
       r.n_events, r.sum_value
FROM r JOIN m USING (user_id)
WHERE epoch_us(m.mx) - 15000000 > epoch_us(r.session_end) + 1800000000
""",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-ID assignment (30-min gap) + per-session stats —
    the streaming twin of the batch sessionize_stats, via bounded-state
    ``applyInPandasWithState`` (streaming/stateful.py:stateful_sessionize).
    Unlike session_window (which emits anonymous windows), this carries the
    batch query's EXPLICIT session_seq numbering into streaming; emission
    is watermark-final (never before max_seen - delay passes end + gap),
    so emitted rows can never diverge from the batch result — a
    within-delay straggler that would bridge two sessions still merges
    them in state."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now
    from ibis_flink_example_spark.streaming.stateful import stateful_sessionize

    stream = _events_stream(spark, sf_dir)
    sessions = stateful_sessionize(
        stream,
        key="user_id",
        time_col="ts",
        measure="value",
        tiebreak_col="event_id",
        gap_seconds=30 * 60,
        delay_seconds=15,
    )
    return run_available_now(sessions, output_mode="append")


@query(
    "streaming_upsert_totals",
    # The materialized view's final state must equal the direct batch
    # rollup — upserts applied once per micro-batch, drained.
    oracle="""
SELECT user_id,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""",
)
def streaming_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view (T5 delivery semantics,
    UPDATE flavor): per-user running totals upserted once per micro-batch
    via foreachBatch MERGE — partial aggregates from the batch full-outer
    joined with the current view, DECIMAL-exact sums, written ping-pong
    between two managed tables (the non-transactional stand-in for a
    Delta/Iceberg MERGE; each batch applies exactly once in a drained
    availableNow run). The per-batch cost is |batch keys| + |view| — the
    incremental-view pattern that replaces full recomputation at 100 TB."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.functions.exact import money
    from ibis_flink_example_spark.streaming.runtime import foreach_batch

    tables = ["streaming_upsert_totals_a", "streaming_upsert_totals_b"]
    for t in tables:
        drop_table_and_location(spark, t)
    state = {"cur": None, "last_bid": None}

    def apply_batch(bdf, bid):
        # at-least-once re-delivery guard (see streaming_cms_user_counts):
        # a re-delivered batch must not upsert its deltas a second time
        if state["last_bid"] is not None and bid <= state["last_bid"]:
            return
        partial = bdf.groupBy("user_id").agg(
            F.sum(money("value")).alias("delta"),
            F.count(F.lit(1)).alias("n"),
        )
        if state["cur"] is None:
            nxt = tables[0]
            merged = partial.select(
                "user_id",
                F.col("delta").alias("total_dec"),
                F.col("n").alias("n_events"),
            )
        else:
            tgt = bdf.sparkSession.table(state["cur"])
            zero = F.lit(0).cast("decimal(18,2)")
            merged = (
                tgt.alias("t")
                .join(partial.alias("s"), F.col("t.user_id") == F.col("s.user_id"), "full_outer")
                .select(
                    F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias("user_id"),
                    # SUM semantics: an all-NULL key stays NULL (matching
                    # the oracle); only coalesce to 0 when at least one
                    # side carries a real sum
                    F.when(
                        F.col("t.total_dec").isNull() & F.col("s.delta").isNull(),
                        F.lit(None).cast("decimal(18,2)"),
                    )
                    .otherwise(
                        F.coalesce(F.col("t.total_dec"), zero)
                        + F.coalesce(F.col("s.delta"), zero)
                    )
                    .alias("total_dec"),
                    (
                        F.coalesce(F.col("t.n_events"), F.lit(0))
                        + F.coalesce(F.col("s.n"), F.lit(0))
                    ).alias("n_events"),
                )
            )
            nxt = tables[1] if state["cur"] == tables[0] else tables[0]
        merged.write.mode("overwrite").saveAsTable(nxt)
        state["cur"] = nxt
        state["last_bid"] = bid

    # State partitions ride the stream's private session clone (see
    # _events_stream); apply_batch's partial aggs inherit it via
    # bdf.sparkSession — no mutation of the caller's session.
    foreach_batch(_events_stream(spark, sf_dir).select("user_id", "value"), apply_batch)
    if state["cur"] is None:  # zero micro-batches: empty view, not a crash
        return spark.createDataFrame(
            [], "user_id long, total_value double, n_events bigint"
        )
    final = spark.table(state["cur"])
    return final.select(
        "user_id",
        F.col("total_dec").cast("double").alias("total_value"),
        "n_events",
    )


@query(
    "streaming_cms_user_counts",
    # Incremental Count-Min maintenance QA: probe set = the exact top-20
    # users by event count (SQL-computable), each carrying its exact count
    # plus THREE claims the Spark side computes from data: the one-sided
    # CMS guarantee est >= exact, the eps*N overestimate bound, and cell-
    # table EQUALITY between the incrementally-merged sketch and a one-shot
    # batch build over the same rows (mergeability is the point of the
    # sketch — sketches of parts sum to the sketch of the whole).
    oracle="""
WITH tot AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events GROUP BY 1
)
SELECT user_id, exact_n, TRUE AS est_ge_exact, TRUE AS overest_within_eps,
       TRUE AS matches_batch_sketch
FROM tot ORDER BY exact_n DESC, user_id ASC LIMIT 20
""",
)
def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch maintenance (the frequency twin of the
    streaming_upsert_totals incremental view): each micro-batch builds its
    own partial sketch (ONE bounded aggregation, shuffle <= depth*width
    cells) and foreachBatch merges cell tables by per-cell SUM into a
    ping-pong managed table — per-batch cost is O(sketch size), never
    O(corpus). The drained sketch is probed at the exact top-20 heavy
    users and must (a) satisfy est >= exact, (b) stay within the eps*N
    overestimate bound, and (c) equal the batch-built sketch cell-for-cell
    (CMS linearity: sum of partial sketches == sketch of the union). At
    100 TB this is the standard telemetry counter: a ~32 KB artifact
    maintained incrementally instead of a vocabulary-sized exact table."""
    import math

    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.operators.sketches import cms_build, cms_estimate
    from ibis_flink_example_spark.streaming.runtime import foreach_batch

    width, depth = 1024, 4
    tables = ["streaming_cms_cells_a", "streaming_cms_cells_b"]
    for t in tables:
        drop_table_and_location(spark, t)
    state = {"cur": None, "last_bid": None}

    def apply_batch(bdf, bid):
        # foreachBatch is at-least-once: a batch whose table write committed
        # but whose completion marker didn't can be RE-delivered, and a
        # second merge would double its cells (flipping the sketch-equality
        # claim). Applied-batch tracking makes the merge idempotent; a
        # failed (uncommitted) write leaves last_bid unset so the retry
        # still applies, and mode("overwrite") discards any partial files.
        if state["last_bid"] is not None and bid <= state["last_bid"]:
            return
        partial = cms_build(bdf, "user_id", width=width, depth=depth)
        if state["cur"] is None:
            merged, nxt = partial, tables[0]
        else:
            prev = bdf.sparkSession.table(state["cur"])
            merged = (
                prev.unionByName(partial)
                .groupBy("depth_idx", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
            nxt = tables[1] if state["cur"] == tables[0] else tables[0]
        merged.write.mode("overwrite").saveAsTable(nxt)
        state["cur"] = nxt
        state["last_bid"] = bid

    foreach_batch(_events_stream(spark, sf_dir).select("user_id"), apply_batch)

    events = load_table(spark, sf_dir, "events")
    if state["cur"] is None:  # zero micro-batches: empty probe set
        return spark.createDataFrame(
            [],
            "user_id long, exact_n bigint, est_ge_exact boolean, "
            "overest_within_eps boolean, matches_batch_sketch boolean",
        )
    streamed_sketch = spark.table(state["cur"])

    # mergeability: incremental cells == one-shot batch cells, exactly
    batch_sketch = cms_build(events, "user_id", width=width, depth=depth)
    diff = (
        streamed_sketch.withColumn("src", F.lit(1))
        .unionByName(batch_sketch.withColumn("src", F.lit(-1)))
        .groupBy("depth_idx", "bucket")
        .agg(F.sum(F.col("src") * F.col("cnt")).alias("d"))
        .agg(
            F.coalesce(F.sum(F.abs(F.col("d"))), F.lit(0)).alias("total_abs_diff")
        )
    )

    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("user_id").asc()).limit(20)
    est = cms_estimate(
        streamed_sketch, top.select("user_id"), "user_id", width=width, depth=depth
    )
    n_total = events.agg(F.count(F.lit(1)).alias("n_total"))
    eps_bound = F.ceil(F.lit(math.e / width) * F.col("n_total")).cast("long")
    return (
        top.join(est, "user_id")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(diff))
        .select(
            "user_id",
            "exact_n",
            (F.col("est") >= F.col("exact_n")).alias("est_ge_exact"),
            ((F.col("est") - F.col("exact_n")) <= eps_bound).alias(
                "overest_within_eps"
            ),
            (F.col("total_abs_diff") == 0).alias("matches_batch_sketch"),
        )
    )


@query(
    "streaming_stream_left_join",
    # LEFT OUTER stream-stream join has TWO emission regimes: matched
    # pairs emit as they match (inner semantics, watermark-independent),
    # but a NULL-padded row only emits once the watermark proves no
    # matching view can still arrive — the left row's state expires when
    # wm passes p_ts (v_ts <= p_ts bounds future matches). With TWO
    # withWatermark nodes (one per filtered side), Spark's global
    # watermark is the MIN across nodes (multipleWatermarkPolicy default),
    # each node tracking its own side's max event time — so the drained
    # final watermark is LEAST(max purchase ts, max view ts) - 15 s, NOT
    # the overall max (verified: the max-ts purchase itself is withheld
    # at sf0.01). Null-pads are restricted to purchases STRICTLY before
    # that horizon (the watermark-finality idiom of streaming_sessionize).
    oracle="""
WITH m AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'view')) AS mx
)
SELECT
  p.event_id AS purchase_id,
  v.event_id AS view_id,
  CAST(v.value AS DOUBLE) AS view_value
FROM events p
LEFT JOIN events v
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND v.ts >= p.ts - INTERVAL 10 MINUTE
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase'
  AND (v.event_id IS NOT NULL
       OR epoch_us(p.ts) < epoch_us((SELECT mx FROM m)) - 15000000)
""",
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 outer flavor as a REAL stream-stream LEFT join: purchases keep
    flowing even when no view preceded them — the enrichment-with-misses
    shape (inner joins silently drop unmatched facts; at 100 TB the
    unmatched rows ARE the signal for attribution gaps). State on both
    sides is watermark-evicted; null-padded results are emitted by the
    state-expiry pass, so they are exactly the unmatched purchases whose
    match window the final watermark has closed (see oracle note)."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    base = _events_stream(spark, sf_dir)
    p = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "15 seconds")
    )
    v = (
        base.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("v_ts", "15 seconds")
    )
    joined = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "view_id", F.col("view_value").cast("double").alias("view_value"))
    return run_available_now(joined, output_mode="append")


@query(
    "streaming_static_anti_join",
    # Stream-static LEFT ANTI is STATELESS (the static side is just a
    # per-batch build-side lookup), so a drained run equals the batch anti
    # join exactly — no watermark horizon in the oracle.
    oracle="""
WITH known AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 3 <> 0
)
SELECT e.event_id, e.user_id, e.event_type
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.user_id = e.user_id)
""",
)
def streaming_static_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join: the alerting shape — surface events
    whose key is ABSENT from a reference dim (unknown user, unregistered
    device). The static side broadcasts per micro-batch; anti join against
    a static frame is stateless, so there is no watermark/state cost and
    results emit immediately (contrast streaming_stream_left_join, where
    null-pads wait on watermark expiry). At 100 TB the dim refresh cadence
    is a foreachBatch re-read away; the stream side never shuffles."""
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir)
    known = (
        load_table(stream.sparkSession, sf_dir, "events")
        .filter(F.col("user_id") % 3 != 0)
        .select("user_id")
        .distinct()
    )
    out = stream.join(F.broadcast(known), "user_id", "left_anti").select(
        "event_id", "user_id", "event_type"
    )
    return run_available_now(out, output_mode="append")


@query(
    "streaming_decontaminate_ingest",
    # Stream-static gram probe is STATELESS (the eval gram set is a
    # per-batch broadcast build side), so the drained run equals batch
    # decontamination semantics exactly — no watermark horizon. 13-word
    # grams; short docs degrade to one whole-text gram; eval docs are
    # the reference set and do not flow through the ingest output.
    oracle=r"""
WITH ev AS (
  SELECT regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS ws
  FROM documents WHERE doc_id % 97 = 0
), evg AS (
  SELECT DISTINCT UNNEST(CASE WHEN len(ws) >= 13
      THEN list_transform(range(1, len(ws) - 11),
                          i -> array_to_string(list_slice(ws, i, i + 12), ' '))
      ELSE [array_to_string(ws, ' ')] END) AS gram
  FROM ev
), tr AS (
  SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS batch_id,
         regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS ws
  FROM (
    SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 97 = 0
  )
), trg AS (
  SELECT DISTINCT doc_id, UNNEST(CASE WHEN len(ws) >= 13
      THEN list_transform(range(1, len(ws) - 11),
                          i -> array_to_string(list_slice(ws, i, i + 12), ' '))
      ELSE [array_to_string(ws, ' ')] END) AS gram
  FROM tr
), hits AS (
  SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (gram)
)
SELECT t.doc_id, t.batch_id, (h.doc_id IS NOT NULL) AS contaminated
FROM tr t LEFT JOIN hits h ON h.doc_id = t.doc_id
""",
)
def streaming_decontaminate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination — the streaming arm of
    decontaminate_ngram (GPT-3-style 13-gram overlap) and the stateless
    complement of the two stateful ingest queries: every arriving
    micro-batch (the 4-file mtime-ordered documents replay) probes the
    STATIC eval gram set and tags contaminated docs before they enter
    the corpus — where a production pipeline runs this check, since
    retroactive decontamination means retraining. Stream-static join
    against the broadcast gram set is stateless (no watermark, no
    state store), so the drained availableNow run must equal the batch
    definition EXACTLY, which is what the oracle checks. The replay
    PLANTS contamination witnesses (every eval doc re-arrives as an
    ingest doc under an offset id) because the synthetic fixture has no
    natural 13-gram overlap — without them the row would be trivially
    all-false. Per-batch cost is batch-gram-count x broadcast probe;
    the eval gram set is built ONCE (localCheckpoint) and re-probed per
    batch (at 100 TB the guarded decontaminate_ngram_overlap operator
    provides the shuffle fallback if an eval set ever outgrows its
    broadcast budget)."""
    import pyarrow as pa

    from ibis_flink_example_spark.operators.dedup import (
        _release_local_checkpoint,
        word_shingles,
        words,
    )

    def plant_witnesses(tbl):
        # every eval doc re-arrives as an ingest doc under doc_id +
        # 2,000,000 (2e6 % 97 = 54, so planted ids never land in the eval
        # residue class): the fixture has no natural 13-gram overlap, and
        # without witnesses the result would be trivially all-false
        ev = tbl.filter(pa.array(tbl.column("doc_id").to_numpy() % 97 == 0))
        ids = ev.column("doc_id").to_numpy() + 2_000_000
        return pa.concat_tables([tbl, ev.set_column(0, "doc_id", pa.array(ids))])

    ev_grams = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(word_shingles(words("text"), 13)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)  # built once, probed per batch
    )
    res_t = "decontam_ingest_results"

    def step(bdf, ctx):
        ingest = bdf.filter(F.col("doc_id") % 97 != 0)
        grams = ingest.select(
            "doc_id",
            F.explode(word_shingles(words("text"), 13)).alias("gram"),
        )
        hits = (
            grams.join(F.broadcast(ev_grams), "gram")
            .select("doc_id")
            .distinct()
            .withColumn("__hit", F.lit(True))
        )
        res = (
            ingest.select(
                "doc_id",
                (F.col("doc_id") % 4).cast("long").alias("batch_id"),
            )
            # hits is batch-bounded (ids of the current batch only);
            # broadcast-hinted because the batch jobs run with AQE off,
            # where the static planner would estimate it from its
            # corpus-sized ancestors
            .join(F.broadcast(hits), "doc_id", "left")
            .select(
                "doc_id",
                "batch_id",
                F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated"),
            )
        )
        res.write.mode("append").saveAsTable(res_t)

    replay_ingest(
        spark,
        sf_dir,
        "decontam_replay",
        source="documents",
        columns=("doc_id", "text"),
        transform=plant_witnesses,
        tables=(res_t,),
        step=step,
    )
    _release_local_checkpoint(ev_grams)
    return spark.table(res_t).select("doc_id", "batch_id", "contaminated")


_NEARDUP_INGEST_ORACLE = r"""
WITH w AS (
  SELECT doc_id, doc_id % 4 AS b,
         regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, b,
    UNNEST(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
           ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1
), inter AS (
  SELECT n.doc_id AS id_n, o.doc_id AS id_o, COUNT(*) AS nc
  FROM sh n JOIN sh o
    ON n.shingle = o.shingle
   AND (o.b < n.b OR (o.b = n.b AND o.doc_id < n.doc_id))
  GROUP BY 1, 2
), rej AS (
  SELECT DISTINCT id_n
  FROM inter
  JOIN sizes sn ON sn.doc_id = inter.id_n
  JOIN sizes so ON so.doc_id = inter.id_o
  WHERE 2 * nc >= 1 * (sn.ns + so.ns - nc)
)
SELECT w.doc_id,
       CAST(w.b AS BIGINT) AS batch_id,
       (rej.id_n IS NULL) AS accepted
FROM w LEFT JOIN rej ON w.doc_id = rej.id_n
"""


@query("streaming_neardup_ingest", oracle=_NEARDUP_INGEST_ORACLE)
def streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingest (X2's incremental arm): the corpus
    replayed as four mtime-ordered arrival files (``doc_id % 4``), each
    micro-batch probed by EXACT 3-gram Jaccard (>= 1/2, integer
    cross-multiplication — no float) against (a) the persistent shingle
    state of every previously-arrived doc and (b) smaller-id docs in its
    own batch, i.e. first-arrival-wins seen-corpus dedup. Per-batch cost
    is bounded by batch-x-state shingle co-occurrence (never all-pairs,
    never a corpus rescan: the size table is maintained incrementally,
    the state tables only ever APPEND). Re-delivery and replay order are
    guarded by the replay harness (streaming/ingest.py). A production
    stack swaps the exact scorer for the MinHash/LSH candidate path (same
    state shape); exact Jaccard keeps this row fully DuckDB-oracle-able
    as a pure arrival-prefix definition. Returns one row per doc:
    (doc_id, batch_id, accepted)."""
    from ibis_flink_example_spark.operators.dedup import (
        _release_local_checkpoint,
        shingle_hash_rows,
        shingle_match_ids,
    )

    res_t = "neardup_ingest_results"
    seen_sh_t = "neardup_ingest_seen_sh"
    seen_sz_t = "neardup_ingest_seen_sizes"

    def step(bdf, ctx):
        if ctx.probe(bdf) is None:
            return
        sess = bdf.sparkSession
        # one shingle pass per batch, materialized once: the within-batch
        # self-join, the state probe, the size aggregate and the state
        # append all reuse it
        sh_b = (
            shingle_hash_rows(
                bdf, id_col="doc_id", text_col="text", n=3, hash_col="shingle"
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # lazy on purpose: sh_b is already materialized, so each consumer
        # re-runs only a cheap in-memory groupBy — an eager checkpoint
        # here would cost one more full job per micro-batch for nothing
        sizes_b = sh_b.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles")
        )
        rejected = shingle_match_ids(
            sh_b,
            sh_b,
            id_col="doc_id",
            new_sizes=sizes_b,
            pool_sizes=sizes_b,
            restrict_smaller_pool_id=True,
        )
        if not ctx.first:
            rejected = rejected.unionByName(
                shingle_match_ids(
                    sh_b,
                    sess.table(seen_sh_t),
                    id_col="doc_id",
                    new_sizes=sizes_b,
                    pool_sizes=sess.table(seen_sz_t),
                )
            ).distinct()
        res = (
            # batch_id comes off the data (the arrival check proved the
            # batch single-tagged) so the stage's generated code is
            # byte-identical across batches — a per-batch literal here
            # forces a recompile of the result join every batch
            bdf.select(
                "doc_id",
                F.col("arrival_batch").cast("long").alias("batch_id"),
            )
            .join(rejected.withColumn("__rej", F.lit(True)), "doc_id", "left")
            .select(
                "doc_id",
                "batch_id",
                F.col("__rej").isNull().alias("accepted"),
            )
        )
        res.write.mode("append").saveAsTable(res_t)
        # seen-corpus policy: ALL arrivals join the state (a doc similar to
        # an already-rejected one is still a duplicate of its cluster).
        # Both state tables are bucketed on their probe keys, so the next
        # batch's join reads the corpus-sized state pre-partitioned and
        # only the small batch side exchanges — per-batch cost
        # O(batch + co-occurrence), not O(corpus). The eager sh_b
        # checkpoint stays: an A/B of the minhash sibling's
        # state-table-first form read ~20% SLOWER here — without a folded
        # table or union to eliminate, re-reading the batch from parquet
        # three times loses to the in-memory checkpoint.
        append_bucketed(sh_b, seen_sh_t, "shingle")
        append_bucketed(sizes_b, seen_sz_t, "doc_id")
        _release_local_checkpoint(sh_b)

    ctx = replay_ingest(
        spark,
        sf_dir,
        "neardup_replay",
        source="documents",
        columns=("doc_id", "text"),
        tables=(res_t, seen_sh_t, seen_sz_t),
        step=step,
    )
    if ctx.rows == 0:  # no batch carried rows, so no table was written
        return spark.createDataFrame([], "doc_id BIGINT, batch_id BIGINT, accepted BOOLEAN")
    return spark.table(res_t).select("doc_id", "batch_id", "accepted")


def _minhash_ingest_oracle() -> str:
    """Arrival-prefix definition of the banded-MinHash ingest: candidates
    are same-(band_idx, band_key) pairs under the prefix order, accepted
    = no candidate verifies at exact 3-gram Jaccard >= 1/2. The md5
    k-rehash signature (16 hashes, 8 bands x 2 rows, 8-hex slice
    integers — four 32-bit draws per md5) is bit-replayed via the shared
    hex-prefix idiom.

    The engine's 50k-row band-bucket cap (drop_hot_keys on the band
    pool) is deliberately NOT modelled here: the whole band pool holds
    8 rows per doc, so no single (band_idx, band_key) bucket can reach
    the cap unless the fixture itself exceeds 6,250 documents —
    `tests/test_plan_audits.py::test_minhash_ingest_band_cap_headroom`
    pins that premise at every gate SF and fails loudly on a fixture
    refresh that invalidates it (a deterministic cap is either mirrored
    in the oracle or pinned inert)."""
    from ibis_flink_example_spark.operators.sampling import hex_prefix_int_sql

    # permutation j = 8-hex slice (j % 4) of md5 group (j DIV 4) — four
    # 32-bit draws per md5, mirroring md5_minhash_band_rows exactly
    h = hex_prefix_int_sql(
        "substr(md5(shingle || ':mh:' || CAST(t.j // 4 AS VARCHAR)),"
        " (t.j % 4) * 8 + 1, 8)",
        8,
    )
    return f"""
WITH w AS (
  SELECT doc_id, doc_id % 4 AS b,
         regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, b,
    UNNEST(CASE WHEN len(ws) >= 3
           THEN list_transform(range(1, len(ws) - 1),
                               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
           ELSE [array_to_string(ws, ' ')] END) AS shingle
  FROM w
), sizes AS (
  SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY 1
), sig AS (
  SELECT doc_id, b, t.j AS j, MIN({h}) AS m
  FROM sh, UNNEST(range(0, 16)) AS t(j)
  GROUP BY 1, 2, 3
), bands AS (
  SELECT doc_id, b, j // 2 AS band_idx,
         string_agg(CAST(m AS VARCHAR), ':' ORDER BY j) AS band_key
  FROM sig GROUP BY doc_id, b, j // 2
), cand AS (
  SELECT DISTINCT n.doc_id AS id_n, o.doc_id AS id_o
  FROM bands n JOIN bands o
    ON n.band_idx = o.band_idx AND n.band_key = o.band_key
   AND (o.b < n.b OR (o.b = n.b AND o.doc_id < n.doc_id))
), inter AS (
  SELECT c.id_n, c.id_o, COUNT(*) AS nc
  FROM cand c
  JOIN sh n ON n.doc_id = c.id_n
  JOIN sh o ON o.doc_id = c.id_o AND o.shingle = n.shingle
  GROUP BY 1, 2
), rej AS (
  SELECT DISTINCT id_n
  FROM inter
  JOIN sizes sn ON sn.doc_id = inter.id_n
  JOIN sizes so ON so.doc_id = inter.id_o
  WHERE 2 * nc >= 1 * (sn.ns + so.ns - nc)
)
SELECT w.doc_id,
       CAST(w.b AS BIGINT) AS batch_id,
       (rej.id_n IS NULL) AS accepted
FROM w LEFT JOIN rej ON w.doc_id = rej.id_n
"""


@query("streaming_minhash_neardup_ingest", oracle=_minhash_ingest_oracle())
def streaming_minhash_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-shaped sibling of streaming_neardup_ingest:
    candidate generation through BANDED MINHASH over the same append-only
    state instead of full shingle co-occurrence. Per batch: one
    engine-portable md5 k-rehash signature pass (operators/dedup.py:
    md5_minhash_band_rows — 16 hashes, 8 bands x 2 rows; the xxhash64
    OPH arm is the cheaper non-replayable production default), band rows
    equi-joined against the persistent band state + smaller-id same-batch
    rows (hot band buckets capped via drop_hot_keys), and ONLY the
    surviving candidate pairs verified at exact 3-gram Jaccard >= 1/2 —
    the LSH-candidates-then-exact-verify pipeline, incremental form.
    Per-batch cost is bounded by band-bucket co-occupancy (8 rows per doc
    in the band join, never per-shingle co-occurrence); BOTH state
    tables (band rows — which also carry the per-doc shingle counts the
    exact verify needs and the accepted flag — and shingles) are
    BUCKETED on their join keys with bucket-aligned appends, each batch's
    derived frames land DIRECTLY in them (no eager localCheckpoints,
    state unions or separate doc-sizes table — consumers re-read
    pre-partitioned, current-batch reads file-stats-prune on the arrival
    column), and all state tables only APPEND. Same replay harness as the
    exact sibling. Returns one row per doc: (doc_id, batch_id, accepted)."""
    from ibis_flink_example_spark.operators.dedup import (
        drop_hot_keys,
        md5_minhash_band_rows,
        word_shingles,
        words,
    )

    seen_sh_t = "minhash_ingest_seen_sh"
    seen_bd_t = "minhash_ingest_seen_bands"
    # Built ONCE, reused by every micro-batch: word_shingles carries a
    # higher-order transform lambda, and a per-batch reconstruction mints
    # fresh lambda-variable ids that defeat the plan/codegen caches
    # (~1 s of driver recompilation per batch, measured on the semdedup
    # sibling).
    sh_expr = F.explode(word_shingles(words("text"), 3)).alias("shingle")

    def step(bdf, ctx):
        sess = bdf.sparkSession
        # STATE-TABLE-FIRST batching: each derived frame lands DIRECTLY in
        # the bucketed state table the batch has to append anyway, then
        # every consumer re-reads it pre-partitioned. Per-doc shingle
        # counts ride the band rows (carry_count), so exact-Jaccard
        # verification reads both sizes off the candidate join. `arr` is
        # a plain stats-pruned column (each append's files carry a
        # constant arr min/max, so current-batch reads skip old files by
        # footer; a PARTITION column would pay a metastore registration
        # per batch for the same pruning).
        # 1) shingle STRINGS (not hashes): the md5 signature and the
        #    exact verify both consume them; one pass, bucketed on the
        #    verify join key. ONE shuffle serves both the per-batch
        #    (doc_id, shingle) dedup and the bucket alignment:
        #    hashpartitioning(shingle, 4) satisfies the distinct's
        #    ClusteredDistribution, so dropDuplicates AFTER the
        #    repartition runs in-partition instead of adding its own
        #    exchange. The arrival census is FOLDED into this write job
        #    (no probe job of its own); the order check fires right after
        #    the write, and on violation the run dies with its scratch
        #    tables, so a disordered append never reaches a consumer.
        ctx.observe(bdf).select(
            "doc_id",
            sh_expr,
            F.col("arrival_batch").cast("int").alias("arr"),
        ).repartition(STATE_PARTS, F.col("shingle")).dropDuplicates(
            ["doc_id", "shingle"]
        ).write.mode("append").bucketBy(STATE_PARTS, "shingle").sortBy(
            "shingle"
        ).saveAsTable(seen_sh_t)
        arrival = ctx.observed()
        if arrival is None:
            return
        sh_all = sess.table(seen_sh_t)
        # Per-batch literals are confined to SCAN-level filters (where
        # they drive parquet footer/stats pruning); everywhere else the
        # arrival tag travels as a DATA column (`arr` carried through the
        # band aggregation, `__arr_n` on the probe side) so every
        # post-scan stage's generated code is byte-identical across
        # batches and the codegen cache serves batches 1..n (a changing
        # literal recompiles the md5/min-agg and verify trees every
        # batch, measured ~1.5 s/batch).
        sh_b = sh_all.filter(F.col("arr") == arrival).select(
            "doc_id", "shingle", "arr"
        )
        # 2) band rows (+ per-doc n_shingles + the carried arrival tag),
        #    derived INLINE and appended only after the verify below, so
        #    the accepted flag RIDES the band rows: every doc owns exactly
        #    8 band rows — word_shingles degenerates to the whole text
        #    below 3 words, so no doc is band-less — and the result
        #    relation is a distinct projection of the band state, with no
        #    results table of its own to commit per batch. The probe side
        #    comes from this frame directly, and the candidate pool is
        #    prior state UNION the inline batch rows.
        bd_new = md5_minhash_band_rows(
            sh_b,
            id_col="doc_id",
            shingle_col="shingle",
            carry_count=True,
            # sh_b is read back from the state table this batch's
            # dropDuplicates just wrote: distinct by construction, so
            # the plain count is provably |shingles(doc)|
            assume_distinct=True,
            carry_cols=("arr",),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # ^ batch-scoped persist (released below): bd_new feeds the probe
        # broadcast, the pool union AND the final flag-carrying append —
        # without it the 16-hash md5 min-agg re-runs once per consumer
        # (measured 3x per batch, +1.3 s/batch over the cached form).
        # Batch-bounded (8 band rows per arriving doc), so memory is
        # trivial; this is an intra-run intermediate, not a cross-run
        # cache.
        probe = bd_new.select(
            F.col("doc_id").alias("id_n"),
            F.col("n_shingles").alias("ns"),
            "band_idx",
            "band_key",
            F.col("arr").alias("__arr_n"),
        )
        pool_cols = [
            F.col("doc_id").alias("id_o"),
            F.col("n_shingles").alias("no"),
            "band_idx",
            "band_key",
            "arr",
        ]
        pool_src = bd_new.select(*pool_cols)
        if not ctx.first:
            pool_src = sess.table(seen_bd_t).select(*pool_cols).unionByName(pool_src)
        pool = drop_hot_keys(
            pool_src,
            ["band_idx", "band_key"],
            max_rows_per_key=50_000,
            what="minhash band bucket",
            lazy=True,  # per-batch caller: zero driver actions
            lazy_broadcast_hint=True,  # AQE is off in the batch jobs
            # cumulative corpus bound from the arrival census (no extra
            # action) caps the hinted hot-set cardinality; 8 band rows
            # per doc
            expected_rows=ctx.rows * 8,
        )
        cand = (
            # probe is batch-bounded (8 band rows per arriving doc) —
            # broadcast it into the corpus-sized pool so the state side
            # never re-exchanges per batch (AQE off in the batch jobs)
            F.broadcast(probe)
            .join(pool, ["band_idx", "band_key"])
            .filter(
                (F.col("arr") < F.col("__arr_n"))
                | ((F.col("arr") == F.col("__arr_n")) & (F.col("id_o") < F.col("id_n")))
            )
            .select("id_n", "id_o", "ns", "no")
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # ^ batch-scoped persist (released below): cand feeds FOUR
        # broadcast exchanges (two semi-join id projections, the
        # intersection pair filter, the size join) whose differing keys
        # defeat ReuseExchange — uncached, the probe-pool band join
        # re-ran once per broadcast (measured 4x per batch).
        # left_semi dedups its build side by construction — no distinct
        # needed on the id projections (two aggregations saved per batch)
        # Candidate-derived frames carry explicit BROADCAST hints: the
        # batch jobs run with AQE off (streaming/ingest.py _ingest_conf),
        # where the static planner estimates these from their
        # corpus-sized ancestors and would pick sort-merge semi-joins
        # that re-exchange the bucketed shingle state by doc id every
        # batch. The hints pin the plan AQE chooses at runtime anyway
        # (candidates are verify-stage-bounded by the band-bucket cap —
        # the guide §3.2 broadcast-semi-join form), and the shingle state
        # keeps its bucket partitioning so the nn ⋈ oo intersection join
        # needs no exchange on the state side.
        nn = sh_b.select(F.col("doc_id").alias("id_n"), "shingle").join(
            F.broadcast(cand.select("id_n")), "id_n", "left_semi"
        )
        oo = sh_all.select(F.col("doc_id").alias("id_o"), "shingle").join(
            F.broadcast(cand.select("id_o")), "id_o", "left_semi"
        )
        inter = (
            nn.join(oo, "shingle")
            .join(
                F.broadcast(cand.select("id_n", "id_o")),
                ["id_n", "id_o"],
                "left_semi",
            )
            .groupBy("id_n", "id_o")
            .agg(F.count(F.lit(1)).alias("nc"))
        )
        rejected = (
            inter.join(F.broadcast(cand), ["id_n", "id_o"])
            .filter(F.expr("2 * nc >= 1 * (ns + no - nc)"))
            .select(F.col("id_n").alias("doc_id"))
            .distinct()
        )
        # accepted rides ONE left join straight into the band append
        # (rejected is batch-bounded — ids of the current batch only —
        # so the broadcast hint is the plan AQE would pick at runtime)
        append_bucketed(
            bd_new.join(
                F.broadcast(rejected.withColumn("__rej", F.lit(True))),
                "doc_id",
                "left",
            ).select(
                "doc_id",
                "n_shingles",
                "arr",
                "band_idx",
                "band_key",
                F.col("__rej").isNull().alias("accepted"),
            ),
            seen_bd_t,
            "band_key",
        )
        # Loop-caller release contract: drop the hot-set checkpoint
        # blocks drop_hot_keys pinned for this batch, and the
        # batch-scoped persists with them.
        release_eager_checkpoints(pool)
        bd_new.unpersist()
        cand.unpersist()

    ctx = replay_ingest(
        spark,
        sf_dir,
        "minhash_neardup_replay",
        source="documents",
        columns=("doc_id", "text"),
        tables=(seen_sh_t, seen_bd_t),
        step=step,
    )
    if ctx.rows == 0:  # no batch carried rows, so no table was written
        return spark.createDataFrame([], "doc_id BIGINT, batch_id BIGINT, accepted BOOLEAN")
    # Results ride the band state: every doc owns exactly 8 band rows
    # stamped with the same (arr, accepted), so the distinct projection
    # IS the one-row-per-doc result relation.
    return (
        spark.table(seen_bd_t)
        .select("doc_id", F.col("arr").cast("long").alias("batch_id"), "accepted")
        .distinct()
    )


@query(
    "streaming_exactly_once_sink",
    # The table holds every event exactly once REGARDLESS of the forced
    # re-delivery the query performs, so the oracle is plain batch
    # semantics over the source; n_batches pins the arrival/partition
    # mapping (event_id & 3).
    oracle="""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  CAST(COUNT(DISTINCT event_id & 3) AS BIGINT) AS n_batches
FROM events GROUP BY 1
""",
)
def streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 as DEFAULT sink semantics: the warehouse sink as per-batch
    static-partition INSERT OVERWRITE
    (streaming/runtime.py:idempotent_partition_overwrite) — each
    micro-batch lands in its own partition keyed by an in-data arrival
    tag (event_id & 3, four mtime-ordered replay files), so re-delivery
    REPLACES the partition instead of appending a duplicate. The query
    PROVES the property, not just claims it: after the drained
    availableNow run it re-invokes the raw sink step on a re-read of
    arrival file 1 — exactly the at-least-once replay a restart
    produces, with a fresh context and NO re-delivery guard to hide
    behind (the guard is what a restart loses) — and returns the
    re-read table's per-type totals; any duplication fails the
    value-hash against the pure batch oracle. Scale shape: the sink
    write is one partition-pruned file commit per batch; the only
    driver-side collect is the one-row arrival census."""
    import os

    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.functions.exact import money
    from ibis_flink_example_spark.streaming.runtime import (
        idempotent_partition_overwrite,
    )

    sink_t = "exactly_once_sink_events"
    # declared, not appended into, so the sink is dropped and created here
    drop_table_and_location(spark, sink_t)
    spark.sql(
        f"""CREATE TABLE {sink_t}
        (event_id BIGINT, event_type STRING, value DOUBLE)
        USING parquet PARTITIONED BY (arrival_batch INT)"""
    )

    def step(bdf, ctx):
        # one file per trigger -> one arrival tag per batch; the tag IS
        # the delivery unit and names the partition the batch overwrites,
        # so it must be known before the write: one pre-write census
        arrival = ctx.probe(bdf)
        if arrival is not None:
            idempotent_partition_overwrite(
                bdf.drop("arrival_batch"), sink_t, "arrival_batch", arrival
            )

    ctx = replay_ingest(
        spark,
        sf_dir,
        "exactly_once_replay",
        source="events",
        columns=("event_id", "event_type", "value"),
        step=step,
    )
    # Forced at-least-once replay: re-deliver arrival file 1 verbatim
    # (same rows, same partition) through the raw step with a fresh
    # context, as a restarted process would. With an append sink this
    # doubles partition 1; with the overwrite sink the table is
    # byte-identical — which the oracle hash then certifies.
    step(spark.read.parquet(os.path.join(ctx.stage, "batch_1.parquet")), IngestContext())
    return (
        spark.table(sink_t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(money("value")).cast("double").alias("sum_value"),
            F.countDistinct("arrival_batch").cast("long").alias("n_batches"),
        )
    )


@query(
    "streaming_ks_drift",
    # Closed 1-day windows (append mode, watermark max(ts)-15s) -> per-
    # window KS vs the pooled closed-window distribution. The sup is
    # exact: at each window value, the right-limit gap and the LEFT-limit
    # gap (which dominates every pool-only jump below it) — integer
    # ECDF cross-products, one final x1e6 floor division.
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 15 SECOND AS w FROM events),
closed AS (
  SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
         time_bucket(INTERVAL 1 DAY, ts) + INTERVAL 1 DAY AS window_end,
         CAST(round(value * 100) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events, wm
  GROUP BY 1, 2, 3, wm.w
  HAVING time_bucket(INTERVAL 1 DAY, MIN(ts)) + INTERVAL 1 DAY <= wm.w
),
ref AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS cref,
    CAST(SUM(SUM(c)) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ref,
    CAST(SUM(SUM(c)) OVER () AS BIGINT) AS n_pool
  FROM closed GROUP BY v
),
j AS (
  SELECT window_start, window_end, v, c,
    CAST(SUM(c) OVER (PARTITION BY window_start ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g,
    CAST(SUM(c) OVER (PARTITION BY window_start) AS BIGINT) AS n_g,
    cref, cum_ref, n_pool
  FROM closed JOIN ref USING (v)
),
d AS (
  SELECT window_start, window_end,
    MAX(n_g) AS n_group, MAX(n_pool) AS n_pool,
    MAX(GREATEST(
      abs(CAST(cum_g AS HUGEINT) * n_pool - CAST(cum_ref AS HUGEINT) * n_g),
      abs(CAST(cum_g - c AS HUGEINT) * n_pool
          - CAST(cum_ref - cref AS HUGEINT) * n_g)
    )) AS dd
  FROM j GROUP BY 1, 2
)
SELECT window_start, window_end, n_group, n_pool,
  CAST(dd * 1000000 // (CAST(n_group AS HUGEINT) * n_pool) AS BIGINT)
    AS d_x1e6
FROM d
""",
)
def streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: a real streaming job rolls
    1-day tumbling windows of per-cent-value counts (append mode — closed
    windows emit once, state evicted), then the drained result feeds the
    exact per-window KS distance against the pooled closed-window
    distribution (operators/evaluation.py:ks_vs_pooled) — the control
    chart that catches a day whose VALUE DISTRIBUTION shifted even when
    its mean/count look normal (the batch ks_value_by_bucket's streaming
    twin). Streaming state is (window x value-domain) counts — bounded by
    the domain per window, evicted at the watermark; the KS post-pass
    runs on closed-window aggregates only, never raw events."""
    from ibis_flink_example_spark.functions.exact import cents
    from ibis_flink_example_spark.operators.evaluation import ks_vs_pooled
    from ibis_flink_example_spark.streaming.runtime import run_available_now

    stream = _events_stream(spark, sf_dir).withWatermark("ts", "15 seconds")
    keyed = stream.select("ts", cents("value").alias("value_cents"))
    agged = tumble(
        keyed,
        "ts",
        "1 day",
        {"n": F.count(F.lit(1))},
        keys=["value_cents"],
    )
    drained = run_available_now(agged, output_mode="append")
    return ks_vs_pooled(
        drained,
        group_cols=("window_start", "window_end"),
        value_col="value_cents",
        count_col="n",
    )


# ---------------------------------------------------------------------------
# Streaming ANN-SemDeDup ingest: embedding batches vs persistent
# multitable-LSH bucket state
# ---------------------------------------------------------------------------


def _semdedup_ingest_oracle() -> str:
    """Arrival-prefix oracle for streaming_semdedup_ingest. The engine
    probes each arriving batch's (1 + p Hamming-1) bucket probes against
    the append-only bucket state (which at probe time holds every
    arrival <= this batch) and exact-cos6-verifies candidates only. The
    candidate relation is SYMMETRIC (bucket_o matches a probe of n iff
    Hamming(b_o, b_n) <= 1 for some table iff bucket_n matches a probe
    of o), so the union over batches of incremental candidates equals
    the BATCH candidate set of oracle_fragments._semdedup_lsh_cte — which
    this oracle reuses verbatim — and a vector is rejected iff some
    verified pair partner precedes it in (arrival_batch, vec_id) order.
    The state-side 50k bucket cap never binds at fixture scale
    (test_semdedup_ingest_bucket_cap_headroom pins the premise, the
    minhash-ingest idiom)."""
    from ibis_flink_example_spark.oracle_fragments import _semdedup_lsh_cte

    return (
        "WITH "
        + _semdedup_lsh_cte()
        + """, arr AS (
  SELECT vec_id, CAST(vec_id % 4 AS BIGINT) AS batch_id FROM embeddings
), rejected AS (
  -- id_a < id_b, so id_a is the later arrival ONLY when its batch tag
  -- is strictly larger; same-batch pairs reject the larger id = id_b
  SELECT DISTINCT CASE WHEN aa.batch_id > ab.batch_id THEN p.id_a
                       ELSE p.id_b END AS vec_id
  FROM ver p
  JOIN arr aa ON aa.vec_id = p.id_a
  JOIN arr ab ON ab.vec_id = p.id_b
)
SELECT a.vec_id, a.batch_id, (r.vec_id IS NULL) AS accepted
FROM arr a LEFT JOIN rejected r ON r.vec_id = a.vec_id
"""
    )


@query("streaming_semdedup_ingest", oracle=_semdedup_ingest_oracle())
def streaming_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-backed SemDeDup: the streaming arm of
    semdedup_lsh, built on the bucketed append-only state shape of
    streaming_minhash_neardup_ingest. Embedding batches arrive (4
    deterministic arrival batches, vec_id % 4, mtime-ordered file
    replay); per batch the L=6-table x 6-plane hyperplane signatures
    (driver-side literal planes — no training pass) land DIRECTLY in a
    bucket state table BUCKETED on the bucket key, the raw vectors (cast
    double + precomputed norm) in a vec state table bucketed on vec_id,
    and the batch's 1 + 6 Hamming-1 probes equi-join the hot-key-capped
    bucket state (arr < batch, or same batch with smaller id); ONLY the
    surviving candidate pairs are verified at exact cos6 >= 350000
    against the vec state. State only APPENDs; appends are
    bucket-ALIGNED (repartition on the bucket key first); same replay
    harness as the minhash sibling. The accepted flag RIDES the
    vec-state rows (verify runs before the vec append, current-batch
    vectors served by a map-only recompute), so a batch owes TWO
    commits, not three, and the result relation is a projection of the
    vec state. Returns one row per vector: (vec_id, batch_id, accepted)."""
    from ibis_flink_example_spark.operators.dedup import drop_hot_keys
    from ibis_flink_example_spark.operators.similarity import (
        dot,
        l2_norm,
        multitable_signature_structs,
        random_hyperplanes,
    )

    n_tables, n_planes, dim, thr = 6, 6, 64, 350_000
    tables = [
        random_hyperplanes(dim, n_planes, 42 + 1000 * t)
        for t in range(n_tables)
    ]
    bkt_t = "semdedup_ingest_buckets"
    vec_t = "semdedup_ingest_vecs"

    # Lambda-bearing expressions (higher-order zip_with/aggregate folds
    # inside hyperplane_signature / l2_norm / dot and the transform cast)
    # are built ONCE and reused by every micro-batch: each construction
    # mints fresh lambda-variable ids, so a rebuilt-per-batch expression
    # defeats both Catalyst's plan cache and Janino's codegen cache and
    # costs ~1.2 s of driver recompilation per batch (measured; reusing
    # the identical Column object runs the same stage in ~0.6 s).
    # One plane-matrix literal + nested fold instead of L x p unrolled
    # fold trees: bit-identical signatures, ~0.2 s less Catalyst
    # analysis/optimization per micro-batch plan build (see
    # multitable_signature_structs).
    sig_expr = F.explode(
        multitable_signature_structs(F.col("embedding"), tables)
    ).alias("__tb")
    vec_expr = F.transform("embedding", lambda x: x.cast("double")).alias(
        "vec"
    )
    nrm_expr = l2_norm(F.col("embedding")).alias("nrm")
    cos6_expr = (
        F.round(
            dot(F.col("__vn"), F.col("__vo"))
            / (F.col("__nn") * F.col("__no"))
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("__cos6")
    )

    def step(bdf, ctx):
        sess = bdf.sparkSession
        # Signature rows derived INLINE and persisted: ONE
        # hyperplane-signature pass feeds the bucket append, the probe
        # AND the candidate pool's inline side, so the verify does not
        # wait on the bucket append's commit and a re-scan of it.
        # Batch-bounded (L rows per arriving vector), explicitly
        # unpersisted below.
        sg_new = (
            ctx.observe(bdf)
            .select(
                "vec_id",
                sig_expr,
                F.col("arrival_batch").cast("int").alias("arr"),
            )
            .select(
                "vec_id",
                F.col("__tb.t").alias("t"),
                F.col("__tb.b").alias("b"),
                "arr",
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # 1) bucket state: L (t, b) signature rows per vector, bucketed
        #    and bucket-ALIGNED on b. The arrival census is FOLDED into
        #    this append: arr comes from the data, the observation rides
        #    the same write job (which also populates the sg_new cache),
        #    and the order check fires right after.
        append_bucketed(sg_new, bkt_t, "b")
        arrival = ctx.observed()
        if arrival is None:
            sg_new.unpersist()
            return
        # Batch-bounded vector frame, persisted: vec + norm are computed
        # from the batch file ONCE and serve the verify's new side (va),
        # the first-batch old side (vb) and the flag-carrying vec append.
        vec_new = (
            bdf.select(
                "vec_id",
                vec_expr,
                nrm_expr,
                F.col("arrival_batch").cast("int").alias("arr"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # Probe comes from the inline signature frame: no state
        # read-back, no per-batch scan filter; the arrival tag travels as
        # the carried `__arr_n` DATA column so the probe/candidate
        # stages' generated code is byte-identical across batches and
        # the codegen cache serves batches 1..n.
        probe = sg_new.select(
            F.col("vec_id").alias("id_n"),
            "t",
            F.explode(
                F.array(
                    F.col("b"),
                    *[
                        F.col("b").bitwiseXOR(F.lit(1 << i).cast("long"))
                        for i in range(n_planes)
                    ],
                )
            ).alias("b"),
            F.col("arr").alias("__arr_n"),
        )
        # Candidate pool = prior state UNION the inline batch rows (this
        # batch's own append carries arr == arrival; the scan filter
        # excludes exactly those rows, the cached inline side re-adds
        # them without re-reading the files it just wrote).
        pool_src = sg_new.select(
            F.col("vec_id").alias("id_o"), "t", "b", "arr"
        )
        if not ctx.first:
            pool_src = (
                sess.table(bkt_t)
                .filter(F.col("arr") < arrival)
                .select(F.col("vec_id").alias("id_o"), "t", "b", "arr")
                .unionByName(pool_src)
            )
        pool = drop_hot_keys(
            pool_src,
            ["t", "b"],
            max_rows_per_key=50_000,
            what="semdedup ingest bucket",
            lazy=True,  # per-batch caller: zero driver actions
            lazy_broadcast_hint=True,  # AQE is off in the batch jobs
            # cumulative corpus bound from the arrival census (no extra
            # action) caps the hinted hot-set cardinality
            expected_rows=ctx.rows * n_tables,
        )
        cand = (
            probe.join(pool, ["t", "b"])
            .filter(
                (F.col("arr") < F.col("__arr_n"))
                | (
                    (F.col("arr") == F.col("__arr_n"))
                    & (F.col("id_o") < F.col("id_n"))
                )
            )
            .select("id_n", "id_o")
            .distinct()
        )
        # 2) exact cos6 verify, then ONE vec-state append that carries
        #    the accepted flag. The current batch's vectors come from the
        #    cached vec_new frame; the OLD side still reads the bucketed
        #    state pre-partitioned.
        va = vec_new.select(
            F.col("vec_id").alias("id_n"),
            F.col("vec").alias("__vn"),
            F.col("nrm").alias("__nn"),
        )
        vb_cols = [
            F.col("vec_id").alias("id_o"),
            F.col("vec").alias("__vo"),
            F.col("nrm").alias("__no"),
        ]
        vb = vec_new.select(*vb_cols)
        if not ctx.first:
            # prior batches' vectors come pre-bucketed from the state
            # table; the first batch has no table yet (its first append
            # is the flag-carrying one below)
            vb = sess.table(vec_t).select(*vb_cols).unionByName(vb)
        # Candidate side BROADCAST-hinted into the corpus-sized vec state
        # (AQE off in the batch jobs): the candidates and the batch's own
        # vectors are verify-stage-bounded, so hinting them keeps the
        # state side map-only (scanned pre-bucketed, never exchanged per
        # batch) — the direction that survives corpus growth, and the
        # plan AQE picks at runtime anyway. The join is FLAT: cand
        # broadcasts into the state-sized vb, then the bounded result
        # picks up the new side from broadcast va, so va's broadcast
        # build is independent of cand's and overlaps it instead of
        # serializing behind it.
        rejected = (
            F.broadcast(cand)
            .join(vb, "id_o")
            .join(F.broadcast(va), "id_n")
            .withColumn("__cos6", cos6_expr)
            .filter(F.col("__cos6") >= F.lit(thr).cast("long"))
            .select(F.col("id_n").alias("vec_id"))
            .distinct()
        )
        # accepted rides ONE left join straight into the vec append; the
        # arrival tag comes off the cached data, not a per-batch literal.
        append_bucketed(
            vec_new.join(
                # rejected is batch-bounded (ids of the current batch
                # only); broadcast-hinted because AQE is off
                F.broadcast(rejected.withColumn("__rej", F.lit(True))),
                "vec_id",
                "left",
            ).select(
                "vec_id",
                "vec",
                "nrm",
                F.col("__rej").isNull().alias("accepted"),
                "arr",
            ),
            vec_t,
            "vec_id",
        )
        # Loop-caller release contract: drop the hot-set checkpoint
        # blocks drop_hot_keys pinned for this batch, and the
        # batch-scoped persists with them.
        release_eager_checkpoints(pool)
        sg_new.unpersist()
        vec_new.unpersist()

    ctx = replay_ingest(
        spark,
        sf_dir,
        "semdedup_ingest_replay",
        source="embeddings",
        columns=("vec_id", "embedding"),
        tables=(bkt_t, vec_t),
        step=step,
    )
    if ctx.rows == 0:  # no batch carried rows, so no vec table was written
        return spark.createDataFrame([], "vec_id BIGINT, batch_id BIGINT, accepted BOOLEAN")
    # Results ride the vec state: one row per vector with its arrival and
    # accepted flag IS the result relation.
    return spark.table(vec_t).select(
        "vec_id", F.col("arr").cast("long").alias("batch_id"), "accepted"
    )


# ---------------------------------------------------------------------------
# Streaming mini-batch k-means ingest: the clustering family's
# incremental arm
# ---------------------------------------------------------------------------


_MBK_K = 8


def _minibatch_kmeans_oracle(k: int = _MBK_K) -> str:
    """Arrival-prefix oracle for streaming_kmeans_ingest: one CTE block
    per arrival batch replaying the EXACT integer mini-batch recurrence
    the engine's driver-held state runs (Sculley-style mini-batch
    k-means in the repo's fixed-point discipline) — seeds are the k
    smallest vec_ids of batch 0 with weight 0, each batch assigns its
    vectors against the CURRENT centroids (encoded MIN(dist*k+cid)
    argmin), and the update folds the batch's per-cluster sums into the
    running weighted mean with truncating division:
    m' = (m*n + sum) // (n + cnt), n' = n + cnt; clusters a batch never
    touches carry over unchanged. Assignments are AT ARRIVAL (the
    streaming answer), so the result unions the per-batch assignment
    CTEs."""
    head = f"""
WITH ex AS (
  SELECT vec_id,
    CAST(unnest(range(len(embedding))) AS INTEGER) AS d,
    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      AS m
  FROM embeddings
), arr AS (
  SELECT vec_id, CAST(vec_id % 4 AS BIGINT) AS b FROM embeddings
), c0 AS (
  SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         d, m, CAST(0 AS BIGINT) AS n
  FROM ex
  WHERE vec_id IN (
    SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0
    ORDER BY vec_id LIMIT {k}
  )
)"""
    block = """, d{b} AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM((e.m - c.m) * (e.m - c.m)) AS BIGINT) AS dist
  FROM ex e
  JOIN arr t ON t.vec_id = e.vec_id AND t.b = {b}
  JOIN c{b} c ON c.d = e.d
  GROUP BY 1, 2
), a{b} AS (
  SELECT vec_id, MIN(dist * {k} + cid) AS enc FROM d{b} GROUP BY 1
), s{b} AS (
  SELECT a.enc % {k} AS cid, e.d, CAST(SUM(e.m) AS BIGINT) AS sm,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ex e JOIN a{b} a USING (vec_id) GROUP BY 1, 2
), c{b1} AS (
  SELECT c.cid, c.d,
    CAST(COALESCE((c.m * c.n + s.sm) // (c.n + s.cnt), c.m) AS BIGINT) AS m,
    CAST(c.n + COALESCE(s.cnt, 0) AS BIGINT) AS n
  FROM c{b} c LEFT JOIN s{b} s ON s.cid = c.cid AND s.d = c.d
)"""
    body = "".join(block.format(b=b, b1=b + 1, k=k) for b in range(4))
    tail = f"""
SELECT a.vec_id, t.b AS batch_id,
  CAST(a.enc % {k} AS BIGINT) AS cluster_id,
  CAST(a.enc // {k} AS BIGINT) AS dist_micro2
FROM (
  SELECT * FROM a0 UNION ALL SELECT * FROM a1
  UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
) a JOIN arr t USING (vec_id)
"""
    return head + body + tail


@query("streaming_kmeans_ingest", oracle=_minibatch_kmeans_oracle())
def streaming_kmeans_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MINI-BATCH k-means (the clustering family's streaming
    arm, the way streaming_semdedup_ingest is the semantic-dedup
    family's): embedding batches arrive on
    the shared vec_id % 4 replay; batch 0's k smallest vec_ids seed the
    centroids at weight 0; each batch assigns its vectors against the
    CURRENT driver-held integer centroids (the broadcast-Lloyd
    assignment expression of operators/clustering.py — map-only, no
    join) and folds its per-cluster sums into the running weighted mean
    with truncating division (m' = (m*n + sum) DIV (n + cnt)) — exact
    integer mini-batch k-means, bit-replayed by the CTE-per-batch
    oracle. Assignments are AT ARRIVAL: the answer a streaming
    deployment actually emits (early vectors cluster against younger
    centroids — the deliberate semantic difference from the batch
    kmeans_assign_embeddings fixpoint).

    Scale shape: per batch ONE map-only assignment scan + ONE k-row
    aggregation + a k x (dim+1) driver collect (bounded by k, the
    documented bounded-collect pattern) + one results append — no state
    table beyond results, no join, no pair stage; per-batch cost is
    O(batch x k x dim), independent of everything already ingested.
    Weighted-mean overflow posture: m*n stays under 2^63 to n ~ 1e12
    vectors per cluster; past that, rescale n (decayed counts — the
    standard mini-batch forgetting dial) before the fold."""
    from ibis_flink_example_spark.operators.clustering import (
        _trunc_div,
        encoded_argmin,
        quantize_micro,
    )

    k = _MBK_K
    dim = 64
    res_t = "kmeans_ingest_results"
    state = {"cents": None, "counts": None}

    def step(bdf, ctx):
        if ctx.probe(bdf) is None:
            return
        base = quantize_micro(
            bdf,
            id_col="vec_id",
            vec_col="embedding",
            carry_cols=("arrival_batch",),
        )
        if ctx.first:
            seed_rows = base.orderBy(F.col("vec_id")).limit(k).collect()
            if len(seed_rows) < k:
                raise RuntimeError("kmeans ingest: batch 0 smaller than k")
            state["cents"] = [list(r["__mv"]) for r in seed_rows]
            state["counts"] = [0] * k
        cents = state["cents"]
        # Matrix-literal centroids (clustering.encoded_argmin): the one
        # folded constant rides codegen's references array, so the
        # compiled class is reused across batches even as the centroid
        # values evolve, and Catalyst analyzes ONE tree per batch
        # instead of k unrolled fold trees.
        enc = encoded_argmin(F.col("__mv"), cents, k)
        # No checkpoint: the two consumers below re-plan the same scan,
        # but they share the ONE `enc` Column object, so analysis and
        # codegen cache-hit — cheaper than materializing a batch-sized
        # frame just to read it twice.
        assigned = base.withColumn("__enc", enc)
        assigned.select(
            "vec_id",
            # off the data, not a per-batch literal: the centroid array
            # literals already ride codegen's references array, so with
            # batch_id carried as a column this whole stage's generated
            # code is byte-identical across batches (one compile total)
            F.col("arrival_batch").cast("long").alias("batch_id"),
            (F.col("__enc") % k).cast("long").alias("cluster_id"),
            F.expr(f"__enc DIV {k}").cast("long").alias("dist_micro2"),
        ).write.mode("append").saveAsTable(res_t)
        # Element-wise centroid sums via posexplode + ONE analyzed agg
        # expression per batch, not dim+1 separate agg columns (~0.5 s of
        # Catalyst analysis per batch at dim=64). Map-side partials still
        # reduce each partition to k x dim rows; the collect stays
        # bounded at k x dim rows.
        sums = (
            assigned.select((F.col("__enc") % k).alias("__cid"), "__mv")
            .select("__cid", F.posexplode("__mv").alias("__d", "__v"))
            .groupBy("__cid", "__d")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__n"),
                F.sum("__v").alias("__s"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]
        new_counts = list(state["counts"])
        b_counts: dict[int, int] = {}
        b_acc: dict[tuple[int, int], int] = {}
        for r in sums:
            b_counts[int(r["__cid"])] = int(r["__n"])
            b_acc[(int(r["__cid"]), int(r["__d"]))] = int(r["__s"])
        for cid, cnt in b_counts.items():
            n_old = new_counts[cid]
            new_cents[cid] = [
                _trunc_div(
                    int(cents[cid][d]) * n_old + b_acc[(cid, d)],
                    n_old + cnt,
                )
                for d in range(dim)
            ]
            new_counts[cid] = n_old + cnt
        state["cents"] = new_cents
        state["counts"] = new_counts

    ctx = replay_ingest(
        spark,
        sf_dir,
        "kmeans_ingest_replay",
        source="embeddings",
        columns=("vec_id", "embedding"),
        tables=(res_t,),
        step=step,
    )
    if ctx.rows == 0:  # no batch carried rows, so no table was written
        return spark.createDataFrame(
            [], "vec_id BIGINT, batch_id BIGINT, cluster_id BIGINT, dist_micro2 BIGINT"
        )
    return spark.table(res_t).select("vec_id", "batch_id", "cluster_id", "dist_micro2")
