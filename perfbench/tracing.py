"""Traced runs: spans kept in memory, Spark status-store sums per operation.

Spans are recorded only by the benchmark, around its calls into the package
(``QUERIES[name]``, ``catalog.load_table``, planning, execution).  Spark's
jobs and stages are read once, after the timed phase, from the driver's
status store, and each one is charged to the operation whose span contains
its submission time.  Operations run one at a time, so that is the
operation's job-id range.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None  # operation the next spans belong to
        self._patched: list[tuple[object, object]] = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "op": self.op, "t0": t0, "t1": time.time()})

    def wrap_load_table(self) -> None:
        """Time every ``catalog.load_table`` call, including through the
        names query modules imported with ``from ... import load_table``."""
        from ibis_flink_example_spark import catalog

        original = catalog.load_table

        def load_table(*args, **kwargs):
            with self.span("catalog.load"):
                return original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("ibis_flink_example_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                self._patched.append((mod, original))
                mod.load_table = load_table

    def unwrap(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()

    def per_op(self, name: str) -> dict[str, list[float]]:
        """Span durations in ms, grouped by operation."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["name"] == name:
                out.setdefault(s["op"], []).append(1000.0 * (s["t1"] - s["t0"]))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stage attempts) as the REST API would render them."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    store = jsc.statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


_STAGE_SUMS = {
    "executor_cpu_s": lambda s: s["executorCpuTime"] / 1e9,
    "executor_run_s": lambda s: s["executorRunTime"] / 1e3,
    "input_bytes": lambda s: s["inputBytes"],
    "shuffle_read_bytes": lambda s: s["shuffleReadBytes"],
    "shuffle_write_bytes": lambda s: s["shuffleWriteBytes"],
    "output_bytes": lambda s: s["outputBytes"],
    "spill_bytes": lambda s: s["memoryBytesSpilled"] + s["diskBytesSpilled"],
}


def engine_by_op(spark, ops: list[dict]) -> dict[str, dict[str, float]]:
    """Per operation: jobs, stages, tasks and the stage sums above, plus
    ``driver_gap_ms`` — the part of the operation's span during which no
    Spark job of it was running.  ``ops`` carry ``id``, ``t0``, ``t1``
    (epoch seconds)."""
    jobs, stages = status_store(spark)
    windows = sorted((o["t0"] * 1000.0, o["t1"] * 1000.0, o["id"]) for o in ops)

    def owner(ms):
        for lo, hi, op_id in windows:
            if lo <= ms <= hi:
                return op_id
        return None

    acc = {
        o["id"]: {"jobs": 0, "stages": 0, "tasks": 0, **dict.fromkeys(_STAGE_SUMS, 0.0)}
        for o in ops
    }
    busy: dict[str, list[tuple[float, float]]] = {o["id"]: [] for o in ops}
    for j in jobs:
        op_id = owner(j["submissionTime"]) if j.get("submissionTime") else None
        if op_id is None:
            continue
        acc[op_id]["jobs"] += 1
        busy[op_id].append((j["submissionTime"], j.get("completionTime") or j["submissionTime"]))
    for s in stages:
        op_id = owner(s["submissionTime"]) if s.get("submissionTime") else None
        if op_id is None:
            continue
        a = acc[op_id]
        a["stages"] += 1
        a["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
        for k, f in _STAGE_SUMS.items():
            a[k] += f(s)
    for lo, hi, op_id in windows:
        covered, end = 0.0, lo
        for b0, b1 in sorted(busy[op_id]):
            b0, b1 = max(b0, end), min(b1, hi)
            if b1 > b0:
                covered += b1 - b0
                end = b1
        acc[op_id]["driver_gap_ms"] = (hi - lo) - covered
    return acc


def engine_metrics(by_op: dict[str, dict[str, float]], rounds: int) -> dict[str, float]:
    """Counts and the driver gap as per-operation medians; CPU, run time and
    bytes as totals per round of the workload's fixed work."""
    vals = list(by_op.values())
    if not vals:
        return {}
    out = {}
    for k in ("jobs", "stages", "tasks", "driver_gap_ms"):
        out[f"spark.{k}"] = float(median(v[k] for v in vals))
    for k in _STAGE_SUMS:
        out[f"spark.{k}"] = sum(v[k] for v in vals) / max(1, rounds)
    return out
