"""Seeded input generation: fixture-shaped parquet tables and payment JSON.

Everything here is a pure function of the seed, so the same seed yields the
same files byte for byte.  The tables follow the schemas and value ranges of
the package's fixture tables (TPC-H-like star schema, ``events``,
``documents``, ``embeddings``), so every registered query runs on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; a table's size is round(count * sf).
SCALED_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
DOCUMENTS = 500  # documents/embeddings do not scale in the fixtures either
EMBED_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "green", "big", "cold", "dark"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "plate"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])

_DAY_US = 86_400_000_000


def _days_us(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    """Two-decimal amounts (whole cents), as the fixtures carry."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.int64()).cast(pa.timestamp("us"))


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n = {k: max(1, round(v * sf)) for k, v in SCALED_ROWS.items()}
    i64, i32 = pa.int64(), pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(_PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days_us(rng, o, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(_PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(_days_us(rng, li, "1995-01-02", "2001-11-04")),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * _DAY_US
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": _ts(np.sort(start + rng.integers(0, span, e))),
        "user_id": pa.array(rng.integers(0, 150, e), i64),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents; 5% are an earlier document plus " dup"."""
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 91)))))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS[0], DOCUMENTS, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors scattered around ten label centres."""
    labels = rng.integers(0, 10, DOCUMENTS)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(DOCUMENTS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_fixtures(out_dir: str, seed: int, sf: float) -> list[str]:
    """Write every fixture table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in _tables(np.random.default_rng([seed, 1]), sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


# --- payment_msg stream -----------------------------------------------------

PAY_EPOCH_MS = int(np.datetime64("2024-01-01T00:00:00", "ms").astype("int64"))
PAY_STEP_MS = 500  # one record every 0.5 s of event time, as the reference
PAY_JITTER_MS = 5_000  # |disorder| <= 2 * jitter = 10 s < the 15 s watermark delay


def payment_file(seed: int, index: int, rows: int) -> dict[str, np.ndarray]:
    """Records of arrival file ``index``: global sequence numbers
    ``index*rows ..``, event time on a 0.5 s grid plus bounded jitter, amounts
    in whole cents, seven provinces."""
    rng = np.random.default_rng([seed, 2, index])
    seq = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    return {
        "orderId": 1_000_000_000 + seq,
        "ts_ms": PAY_EPOCH_MS + seq * PAY_STEP_MS
        + rng.integers(-PAY_JITTER_MS, PAY_JITTER_MS + 1, rows),
        "cents": rng.integers(0, 10_000_001, rows),
        "payPlatform": (rng.random(rows) >= 0.9).astype(np.int64),
        "provinceId": rng.integers(0, 7, rows),
    }


def format_ms(ts_ms: int) -> str:
    """Epoch ms -> the reference wire format ``yyyy-MM-dd HH:mm:ss.SSS``."""
    return str(np.datetime64(int(ts_ms), "ms")).replace("T", " ")


def payment_json_lines(rec: dict[str, np.ndarray]) -> str:
    return "".join(
        f'{{"createTime":"{format_ms(t)}","orderId":{o},'
        f'"payAmount":{c // 100}.{c % 100:02d},"payPlatform":{p},"provinceId":{k}}}\n'
        for t, o, c, p, k in zip(
            rec["ts_ms"].tolist(), rec["orderId"].tolist(), rec["cents"].tolist(),
            rec["payPlatform"].tolist(), rec["provinceId"].tolist(),
        )
    )
