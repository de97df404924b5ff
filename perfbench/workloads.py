"""The workloads.  Each has ``setup`` (inputs, query start, warm-up),
``timed`` (whole rounds of the same operations until the run's seconds are
spent), ``check`` (every output against a computation made apart from the
program) and ``layers`` (per-layer figures for traced runs).

An operation is a dict with ``id``, ``name``, ``round``, ``t0``/``t1``
(epoch seconds), ``ms`` and, after ``check``, ``problem`` (None when right).
Rounds below 0 are the warm-up.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
import traceback
from contextlib import nullcontext
from statistics import median

import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

import check
import gen
import host
import tracing as tr

SF = 0.01  # fixture tables: 60,000 lineitem rows, 15,000 orders, 10,000 events
MIN_ROUNDS = 3


class Ctx:
    def __init__(self, spark, seed: int, seconds: float, tracer, work_dir: str, smoke: bool):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.tracer, self.work_dir, self.smoke = tracer, work_dir, smoke
        # the timed phase runs at least this many rounds, so that a run slowed
        # by the host still takes its median over the same rounds as others
        self.min_rounds = 1 if smoke else MIN_ROUNDS
        self.marks: dict[str, float] = {}  # set-up phase ends, perf_counter

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.perf_counter()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def set_op(self, op_id: str | None) -> None:
        if self.tracer:
            self.tracer.op = op_id


def _median(xs) -> float:
    """Median of a figure every operation must carry; a missing one raises."""
    xs = list(xs)
    if not xs or any(x is None for x in xs):
        raise KeyError("figure missing from an operation")
    return float(median(xs))


# --- payments_microbatch ----------------------------------------------------


class ProgressListener(StreamingQueryListener):
    """Collects a stream's progress events as they are reported, so the
    closed loop waits on them instead of polling the query."""

    def __init__(self):
        self.events: list[dict] = []
        self.files_done, self.seen_at, self.terminated = 0, 0.0, False
        self.cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.cond:
            self.events.append(p)
            off = p["sources"][0]["endOffset"] if p["sources"] else None
            if off is not None:
                # the file source's log offset counts one per micro-batch
                # that read a file
                self.files_done = int(re.search(r"logOffset\D*(\d+)", str(off)).group(1)) + 1
            self.seen_at = time.time()
            self.cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.cond:
            self.terminated = True
            self.cond.notify_all()


class Payments:
    """The reference pipeline in a closed loop over file backlogs: each round
    stages ``round_files`` payment JSON files of ``rows`` records at once,
    and the stream drains them one file per micro-batch; the next round is
    staged when every file of the last one is committed."""

    name = "payments_microbatch"
    layer_prefixes = ("sources.", "streaming.", "sink.")
    STATE_PARTITIONS = 4
    LOOKBACK_S, DELAY_S = 10, 15

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rows = 100 if ctx.smoke else 1000
        self.round_files = 2 if ctx.smoke else 4
        self.warm_files = 1 if ctx.smoke else 4
        base = os.path.join(ctx.work_dir, "payments")
        self.src, self.out, self.ckpt, self.stage_dir = (
            os.path.join(base, d) for d in ("src", "out", "ckpt", "stage")
        )
        for d in (self.src, self.stage_dir):
            os.makedirs(d)
        self.records: list[pd.DataFrame] = []
        self.mtime0 = time.time()

    def _stage(self, n: int) -> None:
        for _ in range(n):
            i = len(self.records)
            rec = gen.payment_file(self.ctx.seed, i, self.rows)
            tmp = os.path.join(self.stage_dir, f"pay_{i:05d}.json")
            with open(tmp, "w") as f:
                f.write(gen.payment_json_lines(rec))
            os.utime(tmp, (self.mtime0 + i, self.mtime0 + i))  # FIFO by mtime
            os.replace(tmp, os.path.join(self.src, os.path.basename(tmp)))
            self.records.append(pd.DataFrame({**rec, "file": i}))

    def _drain(self) -> float:
        """Wait until every staged file is committed; returns the time.time()
        at which the progress event saying so arrived."""
        with self.listener.cond:
            while self.listener.files_done < len(self.records):
                if self.listener.terminated or self.q.exception() is not None:
                    raise RuntimeError(f"stream ended: {self.q.exception()}")
                if not self.listener.cond.wait(timeout=120):
                    raise RuntimeError(f"stream stalled at {self.listener.files_done} files")
            return self.listener.seen_at

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from ibis_flink_example_spark.sources.kafka import decode_json_value, encode_json_value
        from ibis_flink_example_spark.streaming.runtime import state_scoped_session
        from ibis_flink_example_spark.streaming.stateful import stateful_range_over_sum

        schema = T.StructType([
            T.StructField("createTime", T.TimestampType()),
            T.StructField("orderId", T.LongType()),
            T.StructField("payAmount", T.DoubleType()),
            T.StructField("payPlatform", T.IntegerType()),
            T.StructField("provinceId", T.IntegerType()),
        ])
        sess = state_scoped_session(self.ctx.spark, self.STATE_PARTITIONS)
        self.listener = ProgressListener()
        sess.streams.addListener(self.listener)
        self.sess = sess
        raw = sess.readStream.format("text").option("maxFilesPerTrigger", 1).load(self.src)
        summed = stateful_range_over_sum(
            decode_json_value(raw, schema),
            key="provinceId", time_col="createTime", measure="payAmount",
            row_id="orderId", lookback_seconds=self.LOOKBACK_S,
            delay_seconds=self.DELAY_S, out_col="pay_amount",
        )
        sink = encode_json_value(summed.select(
            "orderId", F.col("provinceId").alias("province_id"), "createTime", "pay_amount"
        ))
        self._stage(self.warm_files)
        self.ctx.mark("inputs")
        self.q = (
            sink.writeStream.format("text").option("path", self.out)
            .option("checkpointLocation", self.ckpt).outputMode("append")
            .queryName("payments_microbatch").start()
        )
        self._drain()
        self.ctx.mark("warm_up")

    def timed(self) -> int:
        deadline = time.perf_counter() + self.ctx.seconds
        self.round_wall_s, self.round_counters = [], []
        while len(self.round_wall_s) < self.ctx.min_rounds or time.perf_counter() < deadline:
            t0, c0 = time.time(), host.counters()
            self._stage(self.round_files)
            self.round_wall_s.append(self._drain() - t0)
            self.round_counters.append([b - a for a, b in zip(c0, host.counters())])
        self.q.stop()
        self.sess.streams.removeListener(self.listener)
        data = [p for p in self.listener.events if p["numInputRows"] > 0]
        self.example_progress = data[-1]
        self.ops, self.warm, files = [], [], 0
        for p in data:
            t0 = pd.Timestamp(p["timestamp"]).timestamp()
            ms = float(p["durationMs"]["triggerExecution"])
            op = {"id": f"batch{p['batchId']}", "name": "micro-batch", "t0": t0,
                  "t1": t0 + ms / 1000.0, "ms": ms, "file": files, "progress": p}
            files += int(p["numInputRows"]) // self.rows
            op["round"] = -1 if op["file"] < self.warm_files else (op["file"] - self.warm_files) // self.round_files
            (self.warm if op["round"] < 0 else self.ops).append(op)
        return len(self.round_wall_s)

    def emitted(self) -> pd.DataFrame:
        rows = []
        for path in sorted(glob.glob(os.path.join(self.out, "part-*"))):
            with open(path) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
        return pd.DataFrame(rows, columns=["orderId", "province_id", "createTime", "pay_amount"])

    def all_records(self) -> pd.DataFrame:
        return pd.concat(self.records, ignore_index=True)

    def check(self) -> None:
        bad = check.payment_failures(self.all_records(), self.emitted(), self.LOOKBACK_S * 1000)
        for op in self.warm + self.ops:
            p = op["progress"]
            dropped = sum(s["numRowsDroppedByWatermark"] for s in p["stateOperators"])
            if dropped:
                bad.setdefault(op["file"], f"watermark dropped {dropped} rows")
            if p["numInputRows"] != self.rows:
                bad.setdefault(op["file"], f"batch read {p['numInputRows']} rows, not {self.rows}")
            op["problem"] = bad.get(op["file"])
        self.global_problem = bad.get(-1)

    def layers(self) -> dict[str, float]:
        d = [o["progress"]["durationMs"] for o in self.ops]
        st = [o["progress"]["stateOperators"][0] for o in self.ops]
        cm = [s["customMetrics"] for s in st]
        out = {
            "sources.latest_offset_ms": _median(x.get("latestOffset") for x in d),
            "sources.get_batch_ms": _median(x.get("getBatch") for x in d),
            "streaming.planning_ms": _median(x.get("queryPlanning") for x in d),
            "streaming.add_batch_ms": _median(x.get("addBatch") for x in d),
            "streaming.wal_commit_ms": _median(x.get("walCommit") for x in d),
            "streaming.commit_offsets_ms": _median(x.get("commitOffsets") for x in d),
            "streaming.state.update_ms": _median(s["allUpdatesTimeMs"] for s in st),
            "streaming.state.commit_ms": _median(s["commitTimeMs"] for s in st),
            "streaming.state.fsync_ms": _median(c.get("rocksdbCommitFileSyncLatencyMs") for c in cm),
            "streaming.state.changelog_commit_ms": _median(
                c.get("rocksdbChangeLogWriterCommitLatencyMs") for c in cm
            ),
            "streaming.state.instances": _median(s["numStateStoreInstances"] for s in st),
            "streaming.state.rows_total": _median(s["numRowsTotal"] for s in st),
            "streaming.state.memory_bytes": _median(s["memoryUsedBytes"] for s in st),
        }
        parts = glob.glob(os.path.join(self.out, "part-*"))
        out["sink.bytes"] = sum(os.path.getsize(p) for p in parts) / max(1, len(self.warm) + len(self.ops))
        return out


# --- registry workloads -----------------------------------------------------


class Registry:
    """Registered queries run by name through ``QUERIES``; each output is
    compared with the DuckDB oracle ``ORACLES[name]`` on the same parquet."""

    names: tuple[str, ...] = ()
    smoke_names: tuple[str, ...] = ()
    warm_rounds = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work_dir, "data")
        self.outputs: dict[str, pd.DataFrame] = {}
        if ctx.smoke:
            self.names = self.smoke_names

    def run_one(self, name: str) -> pd.DataFrame:
        raise NotImplementedError

    def _op(self, name: str, rnd: int) -> dict:
        op = {"id": f"{name}#{rnd}", "name": name, "round": rnd, "problem": None}
        self.ctx.set_op(op["id"])
        op["t0"], p0 = time.time(), time.perf_counter()
        try:
            self.outputs[op["id"]] = self.run_one(name)
        except Exception as e:  # an operation that raises counts as failed
            op["problem"] = f"raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
            op["raised"] = True
            traceback.print_exc()
        op["ms"], op["t1"] = 1000.0 * (time.perf_counter() - p0), time.time()
        self.ctx.set_op(None)
        return op

    def setup(self) -> None:
        gen.write_fixtures(self.data, self.ctx.seed, SF / 10 if self.ctx.smoke else SF)
        self.ctx.mark("inputs")
        rounds = 1 if self.ctx.smoke else self.warm_rounds
        self.warm = [self._op(n, r - rounds) for r in range(rounds) for n in self.names]
        self.ctx.mark("warm_up")

    def timed(self) -> int:
        deadline = time.perf_counter() + self.ctx.seconds
        self.ops, self.round_wall_s, self.round_counters = [], [], []
        while len(self.round_wall_s) < self.ctx.min_rounds or time.perf_counter() < deadline:
            t, c = time.perf_counter(), host.counters()
            self.ops += [self._op(n, len(self.round_wall_s)) for n in self.names]
            self.round_wall_s.append(time.perf_counter() - t)
            self.round_counters.append([b - a for a, b in zip(c, host.counters())])
        return len(self.round_wall_s)

    def check(self) -> None:
        from ibis_flink_example_spark.queries import ORACLES

        want = {n: check.run_oracle(ORACLES[n], self.data) for n in self.names}
        for op in self.warm + self.ops:
            if op["problem"] is None:
                op["problem"] = check.frames_equal(self.outputs[op["id"]], want[op["name"]])
        self.global_problem = None

    def _catalog_layers(self) -> dict[str, float]:
        loads = self.ctx.tracer.per_op("catalog.load")
        timed = {o["id"] for o in self.ops}
        ms = [x for op_id, xs in loads.items() if op_id in timed for x in xs]
        rounds = len(self.round_wall_s)
        return {"catalog.load_ms": sum(ms) / rounds, "catalog.load_calls": len(ms) / rounds}


class BatchAnalytics(Registry):
    """TPC-H and batch LLM-pipeline operators; per query: build the plan
    (``QUERIES[name]``), plan it (``executedPlan``), execute and collect."""

    name = "batch_analytics"
    layer_prefixes = ("queries.build", "spark.plan", "spark.exec", "catalog.")
    llm_ops = (
        "dedup_exact",
        "minhash_vs_exact_pairs",
        "decontaminate_ngram",
        "text_tfidf_top_terms",
        "kmeans_convergence_churn",
    )
    smoke_names = ("tpch_q6_revenue_forecast", "tpch_q3_shipping_priority", "dedup_exact")

    def __init__(self, ctx: Ctx):
        from ibis_flink_example_spark.queries import QUERIES

        self.names = tuple(n for n in QUERIES if n.startswith("tpch_")) + self.llm_ops
        super().__init__(ctx)

    def run_one(self, name: str) -> pd.DataFrame:
        from ibis_flink_example_spark.queries import QUERIES

        with self.ctx.span("queries.build"):
            df = QUERIES[name](self.ctx.spark, self.data)
        with self.ctx.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.ctx.span("spark.exec"):
            return df.toPandas()

    def layers(self) -> dict[str, float]:
        t = self.ctx.tracer
        timed = {o["id"] for o in self.ops}

        def per_query(span):
            return _median(sum(v) for k, v in t.per_op(span).items() if k in timed)

        return {
            "queries.build_ms": per_query("queries.build"),
            "spark.plan_ms": per_query("spark.plan"),
            "spark.exec_ms": per_query("spark.exec"),
            **self._catalog_layers(),
        }


class LlmIngest(Registry):
    """``foreachBatch`` ingests through the registry; each call replays its
    staged arrival files through a stream and returns the result table."""

    name = "llm_ingest"
    layer_prefixes = ("queries.ingest_s.", "catalog.")
    names = (
        "streaming_decontaminate_ingest",
        "streaming_exactly_once_sink",
    )
    # the first round is cold; after one warm round the next still costs
    # ~40% more CPU than those after it
    warm_rounds = 2
    smoke_names = ("streaming_exactly_once_sink",)

    def run_one(self, name: str) -> pd.DataFrame:
        from ibis_flink_example_spark.queries import QUERIES

        with self.ctx.span("queries.ingest"):
            return QUERIES[name](self.ctx.spark, self.data).toPandas()

    def layers(self) -> dict[str, float]:
        by_op = self.ctx.tracer.per_op("queries.ingest")
        out = {
            f"queries.ingest_s.{n}": _median(
                v[0] / 1000.0 for k, v in by_op.items() if k.startswith(n + "#") and not k.split("#")[1].startswith("-")
            )
            for n in self.names
        }
        return {**out, **self._catalog_layers()}


WORKLOADS = {w.name: w for w in (Payments, LlmIngest, BatchAnalytics)}


def engine_layers(ctx: Ctx, w, rounds: int) -> dict[str, float]:
    return tr.engine_metrics(tr.engine_by_op(ctx.spark, w.ops), rounds)
