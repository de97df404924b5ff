"""Output checks computed apart from the program.

* ``frames_equal``: exact, order-insensitive comparison of two result frames
  (columns by name, rows sorted by every column, floats bit for bit).
* ``run_oracle``: a registry query's DuckDB oracle SQL over the same parquet.
* ``payment_oracle_cents``: the arrival-prefix 10 s RANGE sum per row, in
  integer cents, computed by DuckDB from the generated records.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    if len(df.columns):
        df = df.sort_values(list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    a, b = _canonical(got), _canonical(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if str(x.dtype) != str(y.dtype):
            return f"column {c}: dtype {x.dtype} != {y.dtype}"
        same = (x == y).fillna(False) | (x.isna() & y.isna())
        if pd.api.types.is_float_dtype(x):
            same |= np.isnan(x.to_numpy(float)) & np.isnan(y.to_numpy(float))
        if not bool(np.all(same)):
            i = int(np.argmin(same.to_numpy(bool)))
            return f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def run_oracle(sql: str, data_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
                )
        return con.execute(sql).df()
    finally:
        con.close()


def payment_oracle_cents(records: pd.DataFrame, lookback_ms: int) -> pd.DataFrame:
    """Per input row: SUM(cents) over same-province rows whose event time is in
    [ts - lookback, ts] and that arrived in the same or an earlier file.

    ``records`` columns: orderId, provinceId, ts_ms, cents, file.
    """
    con = duckdb.connect()
    try:
        con.register("recs", records)
        return con.execute(
            f"""
            SELECT a.orderId, CAST(SUM(b.cents) AS BIGINT) AS want_cents
            FROM recs a JOIN recs b
              ON a.provinceId = b.provinceId
             AND b.file <= a.file
             AND b.ts_ms BETWEEN a.ts_ms - {int(lookback_ms)} AND a.ts_ms
            GROUP BY a.orderId
            """
        ).df()
    finally:
        con.close()


def payment_failures(
    records: pd.DataFrame, emitted: pd.DataFrame, lookback_ms: int
) -> dict[int, str]:
    """Check every emitted sink row against the oracle; returns
    {file index: first problem} for every arrival file with a wrong,
    missing or duplicated row.

    ``emitted`` columns: orderId, province_id, createTime (wire string),
    pay_amount (float as written).
    """
    from gen import format_ms

    want = records.merge(payment_oracle_cents(records, lookback_ms), on="orderId")
    got = emitted.copy()
    got["got_cents"] = np.rint(got["pay_amount"].to_numpy(float) * 100).astype(np.int64)
    dup = got["orderId"].duplicated(keep=False)
    m = want.merge(got[~dup], on="orderId", how="left", indicator="found")
    file_of = dict(zip(records["orderId"].tolist(), records["file"].tolist()))
    bad: dict[int, str] = {}
    for oid in got.loc[dup, "orderId"].unique().tolist():
        bad.setdefault(file_of.get(oid, -1), f"orderId {oid} emitted more than once")
    for row in m.itertuples(index=False):
        if row.found != "both":
            problem = "row missing from the sink"
        elif row.province_id != row.provinceId:
            problem = f"province {row.province_id} != {row.provinceId}"
        elif row.createTime != format_ms(row.ts_ms):
            problem = f"createTime {row.createTime} != {format_ms(row.ts_ms)}"
        elif row.got_cents != row.want_cents:
            problem = f"sum {row.got_cents} cents != {row.want_cents}"
        else:
            continue
        bad.setdefault(int(row.file), f"orderId {row.orderId}: {problem}")
    extra = set(got["orderId"]) - set(records["orderId"])
    if extra:
        bad.setdefault(-1, f"{len(extra)} rows not in the input")
    return bad
