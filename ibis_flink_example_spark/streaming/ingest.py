"""Replay-ingest harness: one drained micro-batch loop around a per-batch
step, shared by the ``foreachBatch`` ingest queries.

A fixture table is replayed as four arrival files (``arrival_batch = id & 3``
of its first staged column, written with increasing mtimes) through a file
stream that reads one file per trigger, on a conf-isolated session. The
harness owns everything the ingests do the same way: staging, dropping the
ingest's state tables, the session and its per-batch job conf, the drained
``availableNow`` run and its checkpoint, the re-delivery guard and the
arrival-order check. An ingest supplies its per-batch step and projects its
result from the tables the step wrote. At scale the stream already exists
and nothing is staged; the staging is replay infrastructure, not part of
the operators.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# State-partition count for the bounded verification runs: streaming state
# partitioning is latched at first checkpoint and each micro-batch pays a
# fixed per-partition state-store cost, so it is sized to the workload
# (thousands of keys here), NOT inherited from the relational shuffle
# setting. On a real cluster size this to executors x cores and state volume.
# The ingests' bucketed state tables use the same count as bucket number.
STATE_PARTS = 4

ARRIVAL = "arrival_batch"

# Per-batch input size above which AQE stays ON for ingest batch jobs: AQE's
# per-exchange replan latency (~0.2-0.3 s a round) amortizes once a
# micro-batch carries enough data for runtime coalescing/skew-splitting to
# matter; 256 MB ≈ one advisory shuffle partition per exchange — below that
# a static plan cannot mis-size badly.
_INGEST_AQE_MIN_BATCH_BYTES = 256 * 1024 * 1024


def _ingest_conf(sess, *, approx_batch_bytes: int) -> None:
    """Per-batch job tuning for a conf-isolated ingest session (the
    ``state_scoped_session`` clone the batch jobs run on — no other
    query's conf changes).

    1. Direct task-commit (FileOutputCommitter algorithm 2): per-batch
       state appends skip the job-commit rename pass — measured worth
       ~1 s over a 4-batch replay at sf0.1 against the v1 (two-rename)
       default. Safe here: local-FS renames are atomic, the scratch
       state tables are dropped and rebuilt per run, and a mid-run
       failure aborts the whole query — the v1 "job-commit is atomic"
       property buys nothing for this shape. An object-store deployment
       would use the store's native committer instead.
    2. AQE sized to the MICRO-BATCH, not the session: AQE materializes
       EVERY Exchange of a per-batch plan as its own driver-synchronous
       job round (plus a replan+recompile per round), which on a
       micro-batch-sized DAG of ~10 exchanges is pure fixed latency —
       measured 34.0 s -> 15.3 s on the 4-batch semdedup replay at sf0.1,
       with identical results. This mirrors Spark's own choice of
       disabling AQE inside streaming plans for latency. But a single
       micro-batch can be cluster-sized, where losing AQE's coalescing
       and skew-split is the wrong trade — so AQE stays ON when the
       per-batch input bound ``approx_batch_bytes`` (the largest staged
       file under maxFilesPerTrigger=1) crosses
       ``_INGEST_AQE_MIN_BATCH_BYTES``. The one plan decision small
       batches wanted from AQE — the hot-key cap's guarded broadcast
       anti-join — is handled explicitly
       (``drop_hot_keys(lazy_broadcast_hint=...)``).
    """
    sess.conf.set(
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
    )
    enable = approx_batch_bytes >= _INGEST_AQE_MIN_BATCH_BYTES
    sess.conf.set("spark.sql.adaptive.enabled", "true" if enable else "false")


class IngestContext:
    """Loop state of one replay run, handed to the step with every batch.

    ``last_bid`` is the re-delivery guard's high-water mark; ``last_arr``
    the newest arrival tag applied; ``first`` is true while the first
    non-empty batch is applied (no state table exists yet); ``rows`` counts
    the rows of every batch that arrived so far, this one included.
    ``stage`` is the staged replay directory."""

    def __init__(self, stage: str | None = None) -> None:
        self.stage = stage
        self.last_bid: int | None = None
        self.last_arr = -1
        self.first = True
        self.rows = 0
        self._obs: Observation | None = None

    def arrival(self, lo, hi, n) -> int | None:
        """The arrival-order check, from one batch's (min tag, max tag,
        row count): None for an empty batch, else its one tag, which must
        follow every tag applied before. One file per trigger staged in tag
        order makes each batch single-tagged and increasing; anything else
        raises rather than silently applying a wrong arrival prefix."""
        if n == 0:
            return None
        if lo != hi or int(lo) <= self.last_arr:
            raise RuntimeError(
                f"replay disorder: arrival tags [{lo}, {hi}] after "
                f"{self.last_arr} (maxFilesPerTrigger/mtime staging "
                "violated); refusing to mis-order the prefix"
            )
        self.first = self.last_arr < 0
        self.last_arr = int(lo)
        self.rows += int(n)
        return self.last_arr

    def probe(self, bdf: DataFrame) -> int | None:
        """``arrival`` from a standalone census of ``bdf``: one
        partial-aggregated job with no exchange."""
        r = bdf.agg(F.min(ARRIVAL), F.max(ARRIVAL), F.count(F.lit(1))).first()
        return self.arrival(*r)

    def observe(self, bdf: DataFrame) -> DataFrame:
        """``bdf`` with its arrival census folded into the first action
        that runs on it (no job of its own); read it with ``observed``
        once that action has run."""
        self._obs = Observation()
        return bdf.observe(
            self._obs,
            F.min(ARRIVAL).alias("lo"),
            F.max(ARRIVAL).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )

    def observed(self) -> int | None:
        og = self._obs.get
        return self.arrival(og["lo"], og["hi"], og["n"])


def append_bucketed(df: DataFrame, table: str, key: str) -> None:
    """Append ``df`` to a state table bucketed and sorted on ``key``.
    Rows are repartitioned onto the bucket key first: a misaligned
    bucketed write emits tasks x buckets files per batch, measured 2.5x
    slower to append and to re-read on later batches. Appends to a
    bucketed table keep its spec, so later batches' joins read the state
    pre-partitioned and only the batch side exchanges."""
    df.repartition(STATE_PARTS, F.col(key)).write.mode("append").bucketBy(
        STATE_PARTS, key
    ).sortBy(key).saveAsTable(table)


def _stage(sf_dir: str, name: str, source: str, columns, transform):
    """Write fixture ``source``'s ``columns`` (after ``transform``) plus
    the arrival tag as four mtime-ordered files in a stable scratch dir,
    fully rewritten per run; return the dir and its Spark schema. Only
    the consumed columns are staged — the rest would just add replay
    bytes."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from ibis_flink_example_spark.catalog import scratch_dir, table_path

    stage = scratch_dir(name, sf_dir)
    for f in os.listdir(stage):
        os.remove(os.path.join(stage, f))
    tbl = pq.read_table(table_path(sf_dir, source), columns=list(columns))
    if transform is not None:
        tbl = transform(tbl)
    tag = pc.cast(pc.bit_wise_and(tbl.column(columns[0]), 3), pa.int32())
    tbl = tbl.append_column(ARRIVAL, tag)
    base = time.time() - 3600  # safely in the past; +2 s per file for order
    for k in range(4):
        p = os.path.join(stage, f"batch_{k}.parquet")
        pq.write_table(tbl.filter(pc.equal(tag, k)), p)
        os.utime(p, (base + 2 * k, base + 2 * k))
    return stage, from_arrow_schema(tbl.schema)


def replay_ingest(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    source: str,
    columns: tuple[str, ...],
    step,
    tables: tuple[str, ...] = (),
    transform=None,
) -> IngestContext:
    """Replay fixture table ``source`` through ``step(batch_df, ctx)`` and
    return the drained run's context; the caller projects its result from
    the tables the step wrote.

    ``columns`` are staged (the first one keys the arrival tag) after the
    optional pyarrow ``transform``; ``tables`` are dropped before the run.
    The stream reads one staged file per trigger on a
    ``state_scoped_session`` clone tuned by ``_ingest_conf`` and drains
    under ``availableNow``. Delivery is at-least-once, so the step is
    guarded by batch id: an already-applied batch is not applied twice.
    The guard is in memory and covers re-delivery within one run only — a
    restart loses it, which is why the state tables are dropped per run.
    The checkpoint is fresh per run (a reused one would skip the
    re-staged files) and removed once the query has terminated. A step's
    exception is re-raised as itself, not as the streaming wrapper."""
    from pyspark.errors import StreamingQueryException

    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.streaming.runtime import (
        foreach_batch,
        state_scoped_session,
    )

    stage, schema = _stage(sf_dir, name, source, columns, transform)
    for t in tables:
        drop_table_and_location(spark, t)
    sess = state_scoped_session(spark, STATE_PARTS)
    _ingest_conf(
        sess,
        approx_batch_bytes=max(
            os.path.getsize(os.path.join(stage, f)) for f in os.listdir(stage)
        ),
    )
    stream = (
        sess.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    ctx = IngestContext(stage)
    failed: list[Exception] = []

    def guarded(bdf, bid):
        if ctx.last_bid is not None and bid <= ctx.last_bid:
            return
        try:
            step(bdf, ctx)
        except Exception as e:
            failed.append(e)
            raise
        ctx.last_bid = bid

    try:
        foreach_batch(stream, guarded)
    except StreamingQueryException:
        if failed:
            raise failed[0] from None
        raise
    return ctx
