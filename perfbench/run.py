"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root.  One run: pin the environment, start Spark on
``local[k]``, make the workload's inputs from the seed, warm up (all of this
is ``setup_s``), run whole rounds of the workload's operations for
``--seconds``, check every output, and print one JSON object as the last
line of stdout.  ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones.  The full run record goes to ``.perfbench_runs/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "ibis_flink_example_spark"
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 8


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None, help="task slots (default min(4, nproc))")
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload plus checker self-test")
    return ap.parse_args(argv)


def pin_environment(run_dir: str, cpus: int) -> dict[str, str]:
    """Settings that ambient environment must not change."""
    tmp = os.path.join(run_dir, "tmp")
    for var in ("SPARK_GRAFT_INGEST_AQE", "SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "OMP_NUM_THREADS": "1",
    }
    os.environ.update(pinned)
    tempfile.tempdir = None
    return pinned


def start_spark(run_dir: str, cpus: int):
    from ibis_flink_example_spark.session import apply_session_conf, get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # JVM temp files go to the run dir; no /tmp/hsperfdata_<user> file;
            # JIT compiler threads live as long as the JVM, so their CPU time
            # (jvm.jit_cpu_s) is not lost when one would otherwise exit
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    apply_session_conf(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant has exited."""
    import host

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Python workers are the JVM's children; they exit once it has gone
    deadline = time.time() + 15
    while host.tree_pids()[1:] and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while host.tree_pids()[1:] and time.time() < deadline + 5:
        time.sleep(0.1)


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# measured by every run but not listed in BENCHMARK.json
UNLISTED_UNITS = {"wall_s": "s", "op_ms_p50": "ms", "peak_rss_mb": "MB"}


def unit_of(name: str, spec: dict) -> str:
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    if name in UNLISTED_UNITS:
        return UNLISTED_UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"), ("bytes", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_workload(ctx, cls) -> tuple[dict, dict, object]:
    """Returns (metrics by name, run-record fields, the workload)."""
    import host
    import workloads

    w = cls(ctx)
    w.setup()
    setup_s = time.perf_counter() - T_START
    with host.RssSampler() as rss, host.Window() as win:
        rounds = w.timed()
    w.check()
    ops = w.ops
    metrics = {
        "setup_s": setup_s,
        "cpu_s": workloads._median(c[0] + c[1] for c in w.round_counters),
        "jvm.jit_cpu_s": workloads._median(c[2] for c in w.round_counters),
        "spark.processes_started": workloads._median(c[3] for c in w.round_counters),
        "peak_rss_mb": rss.peak / 2**20,
        "wall_s": workloads._median(w.round_wall_s),
        "op_ms_p50": workloads._median(o["ms"] for o in ops),
    }
    if ctx.tracer:
        metrics.update(w.layers())
        metrics.update(workloads.engine_layers(ctx, w, rounds))
    # an operation that raised has failed; one that returned a wrong output
    # (in the warm-up or the timed phase) makes the whole run incorrect
    wrong = [o for o in w.warm + ops if o["problem"] is not None and not o.get("raised")]
    record = {
        "rounds": rounds,
        "round_wall_s": w.round_wall_s,
        "round_user_s": [c[0] for c in w.round_counters],
        "round_sys_s": [c[1] for c in w.round_counters],
        "round_jit_cpu_s": [c[2] for c in w.round_counters],
        "round_processes_started": [c[3] for c in w.round_counters],
        "timed_wall_s": win.wall_s,
        "steal_pct": win.steal_pct,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_by_comm.items()},
        "attempted": len(ops),
        "failed": sum(o["problem"] is not None for o in ops),
        "correct": not wrong and w.global_problem is None,
        "problems": {o["id"]: o["problem"] for o in w.warm + ops if o["problem"]},
        "global_problem": w.global_problem,
        "ops": [{k: o.get(k) for k in ("id", "round", "ms")} for o in w.warm + ops],
        "example_progress": getattr(w, "example_progress", None),
    }
    return metrics, record, w


def reported(metrics: dict, names: list[str], w) -> dict[str, float]:
    """The named metrics.  A figure of a layer that only other workloads use
    reads 0; any other missing figure is an error, not a silent 0."""
    import workloads

    others = {
        p for cls in workloads.WORKLOADS.values() if cls is not type(w) for p in cls.layer_prefixes
    }
    out = {}
    for k in names:
        if k in metrics:
            out[k] = float(metrics[k])
        elif any(k.startswith(p) for p in others) and not any(
            k.startswith(p) for p in w.layer_prefixes
        ):
            out[k] = 0.0
        else:
            raise KeyError(f"metric {k} was not measured on {w.name}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "BENCHMARK.json")
    ):
        print(f"perfbench: run from the repository root (no {PACKAGE}/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = bench_spec()
    listed = {w["name"] for w in spec["workloads"]}

    ncpu = len(os.sched_getaffinity(0))
    cpus = args.cpus or min(4, ncpu)
    tag = "smoke" if args.smoke else f"{args.workload}-s{args.seed}-t{args.trace}-c{cpus}"
    run_dir = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    pinned = pin_environment(run_dir, cpus)

    import pyspark

    import host
    import tracing as tr
    import workloads

    t_imports = time.perf_counter()

    if not args.smoke and args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for d in ("tmp", "local", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        spark = start_spark(run_dir, cpus)
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    t_session = time.perf_counter()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": ncpu, "spark": pyspark.__version__,
            "python": platform.python_version(), "platform": platform.platform(),
        },
        "settings": {
            "master": f"local[{cpus}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
            "state_partitions": workloads.Payments.STATE_PARTITIONS,
            "fixture_sf": workloads.SF, "env": pinned,
        },
    }
    tracer = tr.Tracer() if args.trace else None
    ctx = workloads.Ctx(spark, args.seed, args.seconds, tracer, os.path.join(run_dir, "work"), args.smoke)
    try:
        if tracer:
            tracer.wrap_load_table()
        if args.smoke:
            import smoke

            result = smoke.run(ctx)
        else:
            metrics, fields, w = run_workload(ctx, workloads.WORKLOADS[args.workload])
            record.update(fields)
    finally:
        if tracer:
            tracer.unwrap()
        stop_spark(spark)
        # what the program left in its temp dir once Spark has stopped
        left = host.dir_usage(os.path.join(run_dir, "tmp"))
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.smoke:
        print(json.dumps(result))
        return 0 if result["ok"] else 1

    metrics["left_behind.files"], metrics["left_behind.bytes"] = left
    record["metrics"] = metrics
    ends = {"imports": t_imports, "session": t_session, **ctx.marks}
    record["setup_phases_s"] = {
        k: t - prev for (k, t), prev in zip(ends.items(), [T_START, *ends.values()])
    }
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    stem = os.path.join(runs_dir, f"{tag}-{int(time.time())}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer:
        tracer.write(stem + ".spans.json")
    print(
        f"perfbench: {tag}: {record['rounds']} rounds, problems {len(record['problems'])}, "
        f"steal {record['steal_pct']:.3g}%, set-up phases "
        + ", ".join(f"{k} {v:.3g} s" for k, v in record["setup_phases_s"].items()) + "; "
        + ", ".join(f"{k}={v:.6g} {unit_of(k, spec)}" for k, v in metrics.items()),
        file=sys.stderr,
    )
    if args.workload in listed:
        wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    else:
        wanted = list(metrics)
    values = reported(metrics, wanted, w)
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k, spec)} for k, v in values.items()},
    }))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
