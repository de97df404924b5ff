"""Smoke mode: every workload at a tiny size in one Spark session, then proof
that the checkers reject a perturbed output (one cent changed, one row
dropped)."""

from __future__ import annotations

import pandas as pd

import check
import workloads


def _float_column(df: pd.DataFrame) -> str:
    return next(c for c in df.columns if pd.api.types.is_float_dtype(df[c]))


def run(ctx) -> dict:
    ctx.seconds = 0  # one timed round each
    result: dict = {"workloads": {}}
    done = {}
    for name, cls in workloads.WORKLOADS.items():
        w = cls(ctx)
        w.setup()
        w.timed()
        w.check()
        ops = w.warm + w.ops
        result["workloads"][name] = {
            "ops": len(ops),
            "problems": [o["problem"] for o in ops if o["problem"]]
            + ([w.global_problem] if w.global_problem else []),
        }
        done[name] = w

    pay = done["payments_microbatch"]
    recs, emitted = pay.all_records(), pay.emitted()
    one_cent = emitted.copy()
    one_cent.loc[0, "pay_amount"] = one_cent.loc[0, "pay_amount"] + 0.01
    lookback_ms = pay.LOOKBACK_S * 1000
    rejected = {
        "payments_unchanged_accepted": not check.payment_failures(recs, emitted, lookback_ms),
        "payments_one_cent": bool(check.payment_failures(recs, one_cent, lookback_ms)),
        "payments_row_dropped": bool(check.payment_failures(recs, emitted.iloc[1:], lookback_ms)),
    }

    from ibis_flink_example_spark.queries import ORACLES

    reg = done["batch_analytics"]
    op = next(o for o in reg.warm if o["name"] == "tpch_q3_shipping_priority")
    got = reg.outputs[op["id"]]
    want = check.run_oracle(ORACLES[op["name"]], reg.data)
    col = _float_column(got)
    cent = got.copy()
    cent.loc[0, col] = cent.loc[0, col] + 0.01
    rejected.update({
        "query_unchanged_accepted": check.frames_equal(got, want) is None,
        "query_one_cent": check.frames_equal(cent, want) is not None,
        "query_row_dropped": check.frames_equal(got.iloc[1:], want) is not None,
    })
    result["checker_self_test"] = rejected
    result["ok"] = all(rejected.values()) and not any(
        v["problems"] for v in result["workloads"].values()
    )
    return result
