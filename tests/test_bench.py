"""The fleet benchmark's per-query layer records (``bench.time_queries``)."""

from __future__ import annotations

import time

LAYER_FIELDS = (
    "build_s",
    "run_s",
    "executor_cpu_s",
    "executor_run_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
    "driver_gap_ms",
)


def test_time_queries_records_layers_and_charges_stream_jobs(spark, sf_dir):
    """Each record carries jobs, stages and non-negative CPU and byte
    fields, and every job submitted during the loop is charged to exactly
    one query — including the micro-batch jobs the streaming query's stream
    thread runs, which must land on that query."""
    import bench
    from perfbench.tracing import status_store

    names = ["over_range_sum_10s", "streaming_exactly_once_sink"]
    start_ms = time.time() * 1000.0
    records, errors = bench.time_queries(spark, sf_dir, names)
    assert errors == {}
    assert sorted(records) == sorted(names)
    for name, rec in records.items():
        assert rec["jobs"] >= 1 and rec["stages"] >= 1, (name, rec)
        assert rec["tasks"] >= rec["stages"], (name, rec)
        for k in LAYER_FIELDS:
            assert rec[k] >= 0, (name, k, rec)
        assert rec["sec"] >= rec["run_s"]

    jobs, _ = status_store(spark)
    ours = [j for j in jobs if j["submissionTime"] >= start_ms]
    stream_jobs = [j for j in ours if "batch = " in (j.get("description") or "")]
    assert stream_jobs, "the streaming query ran no micro-batch job"
    assert sum(r["jobs"] for r in records.values()) == len(ours)
    assert records["streaming_exactly_once_sink"]["jobs"] >= len(stream_jobs)
