#!/usr/bin/env python
"""Fleet benchmark: every registered query, timed and split into layers.

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints exactly ONE
JSON line to stdout:

  {"metric": "sum_query_seconds", "value": <total>, "unit": "sec",
   "queries": {"<name>": <sec>, ...}, "sf": <sf>, ...}

Execution is forced with the noop sink (full pipeline runs, zero
serialization cost to the driver) so timings measure the engine, not
pandas conversion. One warmup query amortizes JVM/codegen startup into a
separately-reported "warmup_sec".

``bench_out.json`` carries the same result plus one record per query in
"layers": ``build_s`` (the ``QUERIES[name]`` call), ``run_s`` (the noop
write), and the Spark jobs, stages, tasks, executor CPU and run time,
input/shuffle/output/spill bytes and driver gap that
``perfbench.tracing.engine_by_op`` reads from the status store for the
query's span. Host CPU steal over the timed phase is "steal_pct".
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

from perfbench.host import cpu_times, steal_pct  # noqa: E402
from perfbench.tracing import engine_by_op  # noqa: E402


def run_query(spark, sf_dir: str, name: str) -> dict:
    """One timed run of ``name`` and its layer record.

    The status store keeps only ``spark.ui.retainedJobs`` jobs, so the
    query's jobs are read right after it finishes. Its span is in epoch
    seconds, the clock the store's submission times use; jobs that stream
    threads submit inside the span are charged to the query."""
    from ibis_flink_example_spark.queries import QUERIES

    t0 = time.time()
    df = QUERIES[name](spark, sf_dir)
    t1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    eng = engine_by_op(spark, [{"id": name, "t0": t0, "t1": t2}])[name]
    return {
        "sec": round(t2 - t0, 4),
        "build_s": round(t1 - t0, 4),
        "run_s": round(t2 - t1, 4),
        **{k: round(v, 4) if isinstance(v, float) else v for k, v in eng.items()},
    }


def time_queries(
    spark, sf_dir: str, names: list[str]
) -> tuple[dict[str, dict], dict[str, str]]:
    """(layer record per query, error per failed query), one run each."""
    records: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            records[name] = run_query(spark, sf_dir, name)
        except Exception as exc:  # one broken query must not sink the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    return records, errors


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or 0)

    from ibis_flink_example_spark.session import get_spark

    spark = get_spark(
        app_name="ibis-flink-example-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("WARN")

    from ibis_flink_example_spark.queries import QUERIES
    from ibis_flink_example_spark.session import apply_session_conf

    apply_session_conf(spark)

    # warmup: flagship once (JVM JIT, codegen, parquet footer caches)
    t0 = time.perf_counter()
    try:
        QUERIES["over_range_sum_10s"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as exc:  # warmup failure is a finding, not a bench abort
        print(f"warmup failed: {exc}", file=sys.stderr)
    warmup_sec = time.perf_counter() - t0

    stat0 = cpu_times()
    records, errors = time_queries(spark, sf_dir, list(QUERIES))

    # Outlier re-time: timing noise on a shared host is ONE-SIDED (a
    # transient stall only ever ADDS seconds — observed 1.5s -> 9.5s
    # spikes on queries that are sub-second warm), so min(first, retry) is
    # the better engine-cost estimator exactly where a stall would have
    # landed in the total. Bounded: only the slowest dozen queries re-run,
    # ~10% extra wall time.
    # retried[name] = [first, retry] so a stall's magnitude stays visible
    # in the snapshot even though min() feeds the total; the layer record
    # is the kept run's
    retried: dict[str, list] = {}
    retry_errors: dict[str, str] = {}
    slowest = sorted(records, key=lambda n: records[n]["sec"], reverse=True)[:12]
    for name in slowest:
        first = records[name]["sec"]
        try:
            rec = run_query(spark, sf_dir, name)
        except Exception as exc:
            # first run succeeded, so this flake is visible NOWHERE else —
            # record it (separately from errors: the query did produce a
            # valid timing) and keep the first measurement
            retry_errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"retry of {name} failed: {exc}", file=sys.stderr)
            continue
        retried[name] = [first, rec["sec"]]
        if rec["sec"] < first:
            records[name] = rec
    steal = round(steal_pct(stat0, cpu_times()), 2)

    timings = {name: r["sec"] for name, r in records.items()}
    total = round(sum(timings.values()), 4)
    # Hot-query gate: any single query above 15% of the fleet total is
    # either a plan defect or deserves its own explicit budget, so it
    # fails the run (non-zero exit) instead of shipping silently. Only
    # enforced on meaningful totals — a tiny-SF smoke run's shares are
    # noise.
    HOT_SHARE = 0.15
    hot_violations = {
        name: {"sec": t, "share": round(t / total, 3)}
        for name, t in timings.items()
        if total >= 60 and t / total > HOT_SHARE
    }
    result = {
        "metric": "sum_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "errors": errors,
        "warmup_sec": round(warmup_sec, 4),
        "cpus": int(cpus),
        "executor_cpu_s": round(sum(r["executor_cpu_s"] for r in records.values()), 2),
        "steal_pct": steal,
        "retried_queries": {k: v for k, v in sorted(retried.items())},
        "retry_errors": retry_errors,
        "hot_query_violations": hot_violations,
    }
    spark.stop()
    # Durable copy first: the driver's stdout capture truncates long tails,
    # so round-over-round comparison reads this file, not the console line.
    with open(os.path.join(REPO_ROOT, "bench_out.json"), "w") as f:
        json.dump({**result, "layers": records}, f, indent=1)
    # Console line kept as small as possible (compact separators, 2-dp
    # timings, empty fields dropped) to fit the capture window; full
    # precision lives in bench_out.json.
    compact = dict(result)
    compact["queries"] = {k: round(v, 2) for k, v in timings.items()}
    if not errors:
        compact.pop("errors")
    if not hot_violations:
        compact.pop("hot_query_violations")
    print(json.dumps(compact, separators=(",", ":")))
    if hot_violations:
        for name, v in hot_violations.items():
            print(
                f"HOT-QUERY GATE: {name} is {v['share']:.0%} of the fleet "
                f"total ({v['sec']:.1f}s of {total:.1f}s) — single-query "
                f"budget is {HOT_SHARE:.0%}; fix the plan or re-budget",
                file=sys.stderr,
            )
        sys.exit(1)


if __name__ == "__main__":
    main()
