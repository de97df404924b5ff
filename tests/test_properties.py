"""Property-based tests (hypothesis): operator laws that must hold for ANY
input, not just the fixtures — partition-invariance of exact aggregation,
salting-invisibility of salted_join, as-of join equivalence to the pandas
reference implementation, and MinHash's estimation-error bound.

Example counts are deliberately small (each example is a Spark job); the
point is randomized structure, not volume.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from ibis_flink_example_spark.functions.exact import dec_sum
from ibis_flink_example_spark.operators.joins import asof_join, salted_join

_slow = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_money_lists = st.lists(
    st.integers(min_value=-10_000_00, max_value=10_000_00).map(lambda c: c / 100.0),
    min_size=1,
    max_size=200,
)


@_slow
@given(vals=_money_lists, parts=st.integers(min_value=1, max_value=7))
def test_dec_sum_is_partition_invariant(spark, vals, parts):
    """Exact decimal aggregation must be bit-identical under ANY partitioning
    — the property that makes results stable from local[4] to 1000 executors."""
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a = df.repartition(parts).agg(dec_sum("v", "s")).first()["s"]
    b = df.coalesce(1).agg(dec_sum("v", "s")).first()["s"]
    assert a == b == round(sum(round(v * 100) for v in vals) / 100.0, 2)


@_slow
@given(
    left=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 4)), min_size=1, max_size=60
    ),
    salt=st.integers(min_value=1, max_value=5),
)
def test_salted_join_equals_plain_join(spark, left, salt):
    l = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(left)], "row_id long, k long"
    )
    r = spark.createDataFrame([(k, k * 10) for k in range(5)], "k long, payload long")
    plain = l.join(r, "k").select("row_id", "k", "payload")
    salted = salted_join(l, r, on="k", salt=salt, salt_by="row_id").select(
        "row_id", "k", "payload"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


@_slow
@given(
    lefts=st.lists(st.integers(0, 1000), min_size=1, max_size=40),
    rights=st.lists(
        st.tuples(st.integers(0, 1000), st.integers(-100, 100)),
        min_size=1,
        max_size=40,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights):
    """asof_join (union + ordered last_value, no row blow-up) must agree with
    pandas.merge_asof — the de-facto reference semantics — on any input."""
    lpdf = pd.DataFrame({"t": sorted(lefts)}).assign(lid=range(len(lefts)))
    rpdf = (
        pd.DataFrame(rights, columns=["t", "val"])
        .sort_values(["t", "val"])  # deterministic tie order
        .drop_duplicates("t", keep="last")  # asof picks SOME row per ts; fix it
        .reset_index(drop=True)
    )
    expected = pd.merge_asof(lpdf, rpdf, on="t", direction="backward")
    # asof_join operates on event-time TIMESTAMP columns (unix_micros inside)
    l = spark.createDataFrame(lpdf.assign(k=1), "t long, lid long, k int").withColumn(
        "t", F.timestamp_micros(F.col("t"))
    )
    r = spark.createDataFrame(rpdf.assign(k=1), "t long, val long, k int").withColumn(
        "t", F.timestamp_micros(F.col("t"))
    )
    got = (
        asof_join(l, r, by="k", on="t", right_cols=["val"])
        .select("lid", "val_right")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    exp = expected[["lid", "val"]].reset_index(drop=True)
    assert got["val_right"].astype("float64").equals(exp["val"].astype("float64"))


@_slow
@given(
    base=st.text(alphabet=st.sampled_from("abcde "), min_size=60, max_size=200),
    edit=st.text(alphabet=st.sampled_from("abcde "), min_size=0, max_size=10),
)
def test_oph_scan_signatures_track_true_jaccard(spark, base, edit):
    """The one-permutation scan path (minhash_signatures: bucketed mins +
    per-doc densification) satisfies the MinHash estimator contract:
    identical shingle sets give identical signatures
    (estimate exactly 1.0), and the agreement fraction stays within a
    generous 64-slot error envelope of true word-3-gram Jaccard. Guards the
    densification logic — a biased fill would push estimates off the
    envelope on sparse docs."""
    from ibis_flink_example_spark.operators.dedup import (
        minhash_signatures,
        minhash_similarity,
        shingle_hash_rows,
    )

    t1 = base
    t2 = base + " " + edit
    df = spark.createDataFrame([(1, t1), (2, t2)], "id long, text string")
    sigs = minhash_signatures(df, id_col="id", text_col="text", shingle_n=3)
    est = (
        sigs.alias("a")
        .crossJoin(sigs.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(minhash_similarity(F.col("a.__sig"), F.col("b.__sig"), 64).alias("e"))
        .first()["e"]
    )
    rows = shingle_hash_rows(df, id_col="id", text_col="text", n=3).collect()
    r1 = {r["__h"] for r in rows if r["id"] == 1}
    r2 = {r["__h"] for r in rows if r["id"] == 2}
    true_j = len(r1 & r2) / len(r1 | r2)
    if r1 == r2:
        assert est == 1.0
    else:
        # OPH+densification variance is slightly above k-permutation MinHash
        # on short docs; 0.45 is still a many-sigma bound for 64 slots
        assert abs(est - true_j) <= 0.45


@_slow
@given(
    lengths=st.lists(st.integers(min_value=0, max_value=1200), min_size=1, max_size=8),
    chunk=st.integers(min_value=2, max_value=300),
    overlap=st.integers(min_value=0, max_value=299),
)
def test_chunk_documents_covers_exactly(spark, lengths, chunk, overlap):
    """For ANY doc length and any chunk/overlap with stride > 0: chunks
    concatenated with the overlap removed reconstruct the document exactly
    (coverage, no gaps, no extra), every non-final chunk is full-size, and
    consecutive chunks share exactly `overlap` chars."""
    from ibis_flink_example_spark.operators.chunking import chunk_documents

    if overlap >= chunk:
        overlap = chunk - 1
    import string

    alphabet = string.ascii_letters + string.digits
    rows = [
        (i, "".join(alphabet[(i * 31 + j) % len(alphabet)] for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=chunk, overlap=overlap)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    stride = chunk - overlap
    for i, text in rows:
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert chunks[0]["chunk_start"] == 0
        rebuilt = chunks[0]["chunk_text"]
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur["chunk_start"] == prev["chunk_start"] + stride
            assert prev["chunk_text"][-overlap:] == cur["chunk_text"][:overlap] or overlap == 0
            rebuilt += cur["chunk_text"][overlap:]
        assert rebuilt == text
        for c in chunks[:-1]:
            assert c["chunk_len"] == chunk


class _FakeGroupState:
    """Minimal GroupState double for driving applyInPandasWithState update
    functions as pure logic (no streaming runtime)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


# The ``init`` each operator in streaming/stateful.py passes to keyed_state.
_RANGE_SUM_INIT = {"ts_us": (), "cents": ()}
_ANOMALY_INIT = {"ts_us": (), "ids": (), "cents": ()}
_SESSIONIZE_INIT = {
    "starts": (), "lasts": (), "ns": (), "cents": (), "emitted_seq": 0, "max_seen": -(1 << 62),
}


def _drive(update, batches):
    """Feed each pandas batch to ``update`` for key 1 over one fake state;
    returns the emitted frames, one per batch."""
    state = _FakeGroupState()
    return [pd.concat(list(update((1,), iter([b]), state))) for b in batches]


def _split(n, cuts):
    """Split ``range(n)`` into contiguous, non-empty batches at ``cuts``."""
    bounds = sorted({c % n for c in cuts} - {0})
    return [list(range(a, b)) for a, b in zip([0, *bounds], [*bounds, n])]


def _reference_sessionize(admitted, gap_us, final_max, delay_us):
    """Independent batch gaps-and-islands over the admitted (ts, cents)
    events + watermark-final cut — a different formulation (global sort
    then split) than the incremental insert/merge under test."""
    out = []
    for t, c in sorted(admitted):
        if out and t - out[-1][1] <= gap_us:
            s = out[-1]
            s[1] = max(s[1], t)
            s[2] += 1
            s[3] += c
        else:
            out.append([t, t, 1, c])
    wm = final_max - delay_us
    return [tuple(s) for s in out if s[1] + gap_us < wm]


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3000),  # event time (s-ish units)
            st.integers(min_value=-500, max_value=500),  # cents
        ),
        min_size=1,
        max_size=60,
    ),
    n_batches=st.integers(min_value=1, max_value=6),
    demote=st.lists(st.integers(min_value=0, max_value=59), max_size=10),
    gap=st.integers(min_value=1, max_value=200),
    delay=st.integers(min_value=0, max_value=100),
)
def test_sessionize_update_equals_batch_reference(data, n_batches, demote, gap, delay):
    """The production sessionize update function (insert/merge/bridge +
    watermark finalize), driven over random multi-batch splits WITH random
    stragglers, emits exactly the independent batch reference's final
    sessions — counts, bounds, sums, and 1-based seq numbering."""
    import math

    import pandas as pd

    from ibis_flink_example_spark.streaming.stateful import keyed_update, sessionize_step

    gap_us, delay_us = gap, delay  # treat units as µs directly
    events = sorted((t, i, c) for i, (t, c) in enumerate(data))
    # batch assignment: contiguous time-ordered chunks, then demote some
    # events one batch later -> genuine cross-batch stragglers
    per = math.ceil(len(events) / n_batches)
    batches = [[] for _ in range(n_batches + 1)]
    for i, ev in enumerate(events):
        b = i // per
        if i in set(demote):
            b += 1
        batches[b].append(ev)

    update = keyed_update(
        sessionize_step(key="user_id", measure="value", gap_us=gap_us, delay_us=delay_us),
        init=_SESSIONIZE_INIT, sort_by=["ts", "event_id"], time_col="ts",
    )
    state = _FakeGroupState()
    emitted = []
    # replicate the operator's own admission rule to build the reference's
    # admitted set (drop iff ts < running max_seen - delay at processing
    # time, batches processed in (ts, id) order within each batch)
    admitted, max_seen = [], -(1 << 62)
    for b in batches:
        if not b:
            continue
        rows = sorted(b, key=lambda e: (e[0], e[1]))
        for t, _i, c in rows:
            if t >= max_seen - delay_us:
                admitted.append((t, c))
                max_seen = max(max_seen, t)
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([t for t, _i, _c in b], unit="us"),
                "event_id": [i for _t, i, _c in b],
                "user_id": [1] * len(b),
                "value": [c / 100.0 for _t, _i, c in b],
            }
        )
        for out in update((1,), iter([pdf]), state):
            emitted.extend(out.to_dict("records"))

    want = _reference_sessionize(admitted, gap_us, max_seen, delay_us)
    assert len(emitted) == len(want)
    for k, (row, ref) in enumerate(zip(emitted, want), start=1):
        assert row["session_seq"] == k
        assert row["session_start"].value // 1000 == ref[0]  # exact ns -> µs
        assert row["session_end"].value // 1000 == ref[1]
        assert row["n_events"] == ref[2]
        assert abs(row["sum_value"] - ref[3] / 100.0) < 1e-9


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),  # event time (µs), arrival order
            st.integers(min_value=-500, max_value=500),  # cents
        ),
        min_size=1,
        max_size=60,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=6),
    lookback=st.integers(min_value=0, max_value=80),
    delay=st.integers(min_value=0, max_value=60),
)
def test_range_sum_state_equals_brute_force_across_batches(data, cuts, lookback, delay):
    """The production range-sum update, driven over a random split of an
    arrival sequence with stragglers, emits for every admitted row the SUM
    over the RANGE frame [ts - lookback, ts] of all rows admitted so far,
    and drops exactly the rows more than ``delay`` behind the key's max."""
    from ibis_flink_example_spark.streaming.stateful import keyed_update, range_sum_step

    update = keyed_update(
        range_sum_step(
            key="k", row_id="id", time_col="ts", measure="v", out_col="s",
            lookback_us=lookback, delay_us=delay,
        ),
        init=_RANGE_SUM_INIT, sort_by="ts", time_col="ts",
    )
    batches = _split(len(data), cuts)
    outs = _drive(update, [
        pd.DataFrame({
            "id": b,
            "k": 1,
            "ts": pd.to_datetime([data[i][0] for i in b], unit="us"),
            "v": [data[i][1] / 100.0 for i in b],
        })
        for b in batches
    ])
    admitted = []  # (ts, cents) of every row admitted so far
    for b, out in zip(batches, outs):
        horizon = max((t for t, _c in admitted), default=None)
        kept = [i for i in b if horizon is None or data[i][0] >= horizon - delay]
        admitted += [data[i] for i in kept]
        want = {
            i: sum(c for t, c in admitted if data[i][0] - lookback <= t <= data[i][0]) / 100.0
            for i in kept
        }
        got = dict(zip(out["id"], out["s"]))
        assert got == want
        assert (out["k"] == 1).all()
        assert [t.value // 1000 for t in out["ts"]] == [data[i][0] for i in out["id"]]


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # event time (µs)
            st.integers(min_value=-300, max_value=300),  # cents
        ),
        min_size=1,
        max_size=60,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=6),
    lookback=st.integers(min_value=1, max_value=8),
    min_prior=st.integers(min_value=1, max_value=5),
    z=st.integers(min_value=1, max_value=3),
)
def test_anomaly_state_equals_brute_force_across_batches(data, cuts, lookback, min_prior, z):
    """The production ROWS-frame anomaly update, driven in event-time order
    over a random split into micro-batches, flags exactly the rows whose
    value deviates from the mean of the previous ``lookback`` rows of the
    key by more than ``z`` population standard deviations (at least
    ``min_prior`` prior rows), with ``n_prior`` the size of that frame."""
    from fractions import Fraction

    from ibis_flink_example_spark.streaming.stateful import anomaly_step, keyed_update

    update = keyed_update(
        anomaly_step(
            key="k", row_id="id", measure="v", lookback=lookback,
            min_prior=min_prior, z_threshold=z, delay_us=0,
        ),
        init=_ANOMALY_INIT, sort_by=["ts", "id"], time_col="ts",
    )
    rows = sorted((t, i, c) for i, (t, c) in enumerate(data))  # (ts, id) order
    batches = _split(len(rows), cuts)
    outs = _drive(update, [
        pd.DataFrame({
            "id": [rows[j][1] for j in b],
            "k": 1,
            "ts": pd.to_datetime([rows[j][0] for j in b], unit="us"),
            "v": [rows[j][2] / 100.0 for j in b],
        })
        for b in batches
    ])
    got = pd.concat(outs, ignore_index=True)
    assert got["id"].tolist() == [i for _t, i, _c in rows]
    for j, (_t, i, c) in enumerate(rows):
        prior = [Fraction(p[2]) for p in rows[max(0, j - lookback):j]]
        n = len(prior)
        flagged = False
        if n >= min_prior:
            mean = sum(prior) / n
            var = sum((p - mean) ** 2 for p in prior) / n
            flagged = (c - mean) ** 2 > z * z * var
        assert got["n_prior"][j] == n
        assert bool(got["is_anomaly"][j]) == flagged
        assert got["v"][j] == c / 100.0


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(min_value=0, max_value=40), st.sampled_from("abcx")),
        min_size=1,
        max_size=60,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=59), max_size=6),
)
def test_funnel_state_any_split_equals_one_batch(data, cuts):
    """The production funnel update over an event-time-ordered stream
    reaches the same stage times whatever the micro-batch split: the last
    emitted row of a split run equals the one row of a single-batch run and
    the stage definition (t_1 = first 'a'; t_k+1 = first step-k+1 event
    strictly after t_k), and ``update_seq`` counts the batches."""
    from ibis_flink_example_spark.streaming.stateful import funnel_step, keyed_update

    steps = ["a", "b", "c"]
    events = sorted(data, key=lambda e: e[0])

    def run(batches):
        update = keyed_update(
            funnel_step(steps, key="k", type_col="ty"),
            init={"times": [-1] * len(steps), "seq": 0}, sort_by="ts", time_col="ts",
        )
        return _drive(update, [
            pd.DataFrame({
                "k": 1,
                "ts": pd.to_datetime([events[i][0] for i in b], unit="us"),
                "ty": [events[i][1] for i in b],
            })
            for b in batches
        ])

    cols = [f"t_{s}_us" for s in steps]
    split = run(_split(len(events), cuts))
    single = run([list(range(len(events)))])
    assert split[-1][cols].values.tolist() == single[0][cols].values.tolist()
    assert split[-1]["update_seq"].tolist() == [len(split)]
    want, prev = [], None
    for s in steps:
        t = next((t for t, ty in events if ty == s and (prev is None or t > prev)), -1)
        want.append(t)
        if t == -1:
            want += [-1] * (len(steps) - len(want))
            break
        prev = t
    assert single[0][cols].values.tolist() == [want]


@pytest.mark.parametrize(
    "values", [[], [7], [0, -1, 1 << 62, -(1 << 63), (1 << 63) - 1, 1_700_000_000_000_000]]
)
@pytest.mark.parametrize("buffer_type", [bytes, bytearray])
def test_packed_state_round_trips(values, buffer_type):
    """Keyed-state buffers are stored as little-endian int64 bytes whatever
    the host byte order, and read back from the ``bytes`` or ``bytearray``
    the state pickle path hands the update function."""
    import struct

    import numpy as np

    from ibis_flink_example_spark.streaming.stateful import pack_i64, unpack_i64

    packed = pack_i64(np.array(values, dtype=np.int64))
    assert packed == struct.pack(f"<{len(values)}q", *values)
    assert pack_i64(values) == packed  # a plain list packs the same
    got = unpack_i64(buffer_type(packed))
    assert got.dtype == np.dtype("<i8")
    assert got.tolist() == values
    big_endian = np.array(values, dtype=">i8")
    assert pack_i64(big_endian) == packed


@given(
    xy=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10_000_00),
            st.integers(min_value=1, max_value=50_00),
        ),
        min_size=3,
        max_size=120,
    )
)
@settings(max_examples=50, deadline=None)
def test_exact_moment_corr_matches_numpy(xy):
    """The exact-difference corr/covar/slope algebra in
    stats_corr_price_qty (Dxy = n*sxy - sx*sy held in INTEGER arithmetic
    until one double cast) matches numpy's centered formulas tightly even
    on near-constant large-valued draws — the case where a raw-moment
    float chain (sxx - sx^2/n in doubles) cancels catastrophically. Pure
    algebra check; the oracle separately proves cross-engine bit-equality."""
    import numpy as np

    xi = [a for a, _ in xy]
    yi = [b for _, b in xy]
    if len(set(xi)) == 1 or len(set(yi)) == 1:
        return  # zero variance: corr undefined, query would emit NaN either way
    n = len(xi)
    # exact integer moments, exactly as the query holds them
    sx, sy = sum(xi), sum(yi)
    sxy = sum(a * b for a, b in xy)
    sxx = sum(a * a for a in xi)
    syy = sum(b * b for b in yi)
    dxy = float(n * sxy - sx * sy)  # single rounding, like the one CAST
    dxx = float(n * sxx - sx * sx)
    dyy = float(n * syy - sy * sy)
    cov = dxy / (n * (n - 1.0))
    corr = dxy / np.sqrt(dxx * dyy)
    slope = dxy / dyy
    x = np.array(xi, dtype=np.float64)
    y = np.array(yi, dtype=np.float64)
    assert abs(cov - np.cov(x, y, ddof=1)[0, 1]) <= 1e-9 * max(1.0, abs(cov))
    assert abs(corr - np.corrcoef(x, y)[0, 1]) <= 1e-9
    want_slope = np.polyfit(y, x, 1)[0]
    assert abs(slope - want_slope) <= 1e-6 * max(1.0, abs(want_slope))


@given(
    a=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=3, max_size=80),
    b=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=3, max_size=80),
)
@settings(max_examples=50, deadline=None)
def test_welch_ttest_algebra_matches_numpy(a, b):
    """ab_value_ttest's exact-difference Welch t and df (Da = na*ssa -
    sa^2 and Dm = sa*nb - sb*na in integer arithmetic) equal the standard
    definitions computed directly with numpy variances."""
    import numpy as np

    xa, xb = np.array(a, dtype=np.float64), np.array(b, dtype=np.float64)
    na, nb = len(a), len(b)
    sa, sb = sum(a), sum(b)
    ssa, ssb = sum(v * v for v in a), sum(v * v for v in b)
    va_n = float(na * ssa - sa * sa) / (na * na * (na - 1.0))
    vb_n = float(nb * ssb - sb * sb) / (nb * nb * (nb - 1.0))
    se2 = va_n + vb_n
    if se2 == 0:
        return  # both variants constant: t undefined (0/0)
    t = (float(sa * nb - sb * na) / (na * nb)) / np.sqrt(se2)
    df = se2 * se2 / (va_n * va_n / (na - 1.0) + vb_n * vb_n / (nb - 1.0))
    ref_va_n = np.var(xa, ddof=1) / na
    ref_vb_n = np.var(xb, ddof=1) / nb
    ref_t = (xa.mean() - xb.mean()) / np.sqrt(ref_va_n + ref_vb_n)
    ref_df = (ref_va_n + ref_vb_n) ** 2 / (
        ref_va_n**2 / (na - 1) + ref_vb_n**2 / (nb - 1)
    )
    assert abs(t - ref_t) <= 1e-6 * max(1.0, abs(ref_t))
    assert abs(df - ref_df) <= 1e-6 * max(1.0, abs(ref_df))


_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=40,
)


@_slow
@given(edges=_edge_lists, iters=st.integers(min_value=1, max_value=4))
def test_pagerank_matches_python_reference(spark, edges, iters):
    """pagerank vs a pure-Python replay of the identical fixed-point
    recurrence on ANY random directed multigraph (self-loops and parallel
    edges included): bit-identical ranks for every out-degree node — the
    distributed loop, the zero-row seeding, and the guarded broadcasts
    must be invisible to the arithmetic."""
    from collections import defaultdict

    from ibis_flink_example_spark.operators.graph import RANK_SCALE, pagerank

    deg = defaultdict(int)
    for s, d in edges:
        deg[s] += 1
    base = (15 * RANK_SCALE) // 100
    ranks = {n: RANK_SCALE for n in deg}
    for _ in range(iters):
        acc = defaultdict(int)
        for s, d in edges:
            acc[d] += ranks[s] // deg[s]
        ranks = {n: base + (85 * acc.get(n, 0)) // 100 for n in deg}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["rank"], r["deg"])
        for r in pagerank(df, iters=iters).collect()
    }
    assert got == {n: (ranks[n], deg[n]) for n in deg}


@_slow
@given(
    edges=_edge_lists,
    seeds=st.lists(
        st.integers(min_value=0, max_value=12), min_size=1, max_size=3
    ),
    hops=st.integers(min_value=0, max_value=5),
)
def test_bfs_matches_python_reference(spark, edges, seeds, hops):
    """bfs_distances vs a pure-Python BFS on ANY random directed graph and
    seed set: identical hop-minimal distances, identical reachable set
    within the hop budget (cycles, self-loops, seeds with no edges)."""
    from ibis_flink_example_spark.operators.graph import bfs_distances

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want = {n: 0 for n in set(seeds)}
    frontier = set(seeds)
    for hop in range(1, hops + 1):
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        frontier = nxt - want.keys()
        if not frontier:
            break
        for n in frontier:
            want[n] = hop

    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edf, sdf, max_hops=hops).collect()
    }
    assert got == want


@_slow
@given(
    ranks_a=st.lists(
        st.integers(min_value=0, max_value=60), min_size=0, max_size=25, unique=True
    ),
    ranks_b=st.lists(
        st.integers(min_value=0, max_value=60), min_size=0, max_size=25, unique=True
    ),
    k0=st.integers(min_value=1, max_value=100),
)
def test_rrf_fuse_matches_python_reference(spark, ranks_a, ranks_b, k0):
    """RRF fusion must equal the pure-Python integer definition for ANY two
    result lists: per-system contribution 1e6 // (k0 + rank), summed."""
    from ibis_flink_example_spark.operators.retrieval import rrf_fuse

    a_rows = [(i, r + 1) for r, i in enumerate(ranks_a)]
    b_rows = [(i, r + 1) for r, i in enumerate(ranks_b)]
    schema = "doc_id long, rank long"
    dfa = spark.createDataFrame(a_rows, schema) if a_rows else spark.createDataFrame([], schema)
    dfb = spark.createDataFrame(b_rows, schema) if b_rows else spark.createDataFrame([], schema)
    got = {
        r["doc_id"]: (r["rrf_x1e6"], r["n_systems"])
        for r in rrf_fuse([dfa, dfb], id_col="doc_id", k0=k0, top_k=1000).collect()
    }
    want: dict = {}
    for rows in (a_rows, b_rows):
        for i, rank in rows:
            s, n = want.get(i, (0, 0))
            want[i] = (s + 1_000_000 // (k0 + rank), n + 1)
    assert got == want


@_slow
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1_000_000),  # score x1e6
            st.booleans(),
        ),
        min_size=1,
        max_size=120,
    ),
    n_bins=st.integers(min_value=1, max_value=12),
)
def test_calibration_bins_matches_python_reference(spark, data, n_bins):
    """Bin assignment and every per-bin statistic must equal the integer
    reference for ANY scores/labels (including the 1e6 top edge)."""
    from ibis_flink_example_spark.operators.evaluation import calibration_bins

    df = spark.createDataFrame(data, "score long, label boolean")
    got = {
        r["bin"]: (r["n_docs"], r["n_pos"], r["mean_score_x1e6"],
                   r["pos_rate_x1e6"], r["gap_x1e6"])
        for r in calibration_bins(
            df, score_col="score", label_col="label", n_bins=n_bins
        ).collect()
    }
    agg: dict = {}
    for s, l in data:
        b = min(n_bins - 1, s * n_bins // 1_000_000)
        n, p, ss = agg.get(b, (0, 0, 0))
        agg[b] = (n + 1, p + int(l), ss + s)
    want = {}
    for b, (n, p, ss) in agg.items():
        mean, rate = ss // n, p * 1_000_000 // n
        want[b] = (n, p, mean, rate, abs(mean - rate))
    assert got == want


@_slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    ),
    num=st.integers(min_value=1, max_value=3),
    den=st.integers(min_value=3, max_value=5),
)
def test_shingle_match_ids_matches_bruteforce(spark, docs, num, den):
    """The integer cross-multiplied Jaccard threshold must agree with the
    float brute force for ANY shingle sets and any rational threshold
    (new-vs-pool with the smaller-id restriction)."""
    from ibis_flink_example_spark.operators.dedup import shingle_match_ids

    sets = [set(d) for d in docs]
    rows = [(i, s) for i, d in enumerate(sets) for s in d]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    got = {
        r["doc_id"]
        for r in shingle_match_ids(
            sh, sh, id_col="doc_id", threshold_num=num, threshold_den=den,
            restrict_smaller_pool_id=True,
        ).collect()
    }
    want = set()
    for i, si in enumerate(sets):
        for j in range(i):
            nc = len(si & sets[j])
            if nc and den * nc >= num * (len(si) + len(sets[j]) - nc):
                want.add(i)
    assert got == want


@_slow
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5),  # tiny vocab -> dups
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_substring_dup_runs_matches_bruteforce(spark, docs_words):
    """substring_dup_runs (k=3) vs a brute-force reference: duplicated
    k-window anchors by dictionary count, runs by consecutive-position
    islands, coverage by exact interval union — for ANY corpus shape
    (within-doc repeats, cross-doc shares, sub-k docs)."""
    from collections import Counter

    from ibis_flink_example_spark.operators.dedup import substring_dup_runs

    k = 3
    texts = [" ".join(f"w{t}" for t in ws) for ws in docs_words]
    # brute force (on the SAME split semantics: split on single space,
    # empty text -> [''])
    grams = Counter()
    per_doc = []
    for txt in texts:
        ws = txt.split(" ")
        anchors = [tuple(ws[i : i + k]) for i in range(len(ws) - k + 1)]
        per_doc.append(anchors)
        grams.update(anchors)
    expected = {}
    for i, anchors in enumerate(per_doc):
        dup = [p for p, a in enumerate(anchors) if grams[a] >= 2]
        if not dup:
            continue
        runs = 1 + sum(1 for a, b in zip(dup, dup[1:]) if b - a != 1)
        best = 1
        cur = 1
        for a, b in zip(dup, dup[1:]):
            cur = cur + 1 if b - a == 1 else 1
            best = max(best, cur)
        covered = set()
        for p in dup:
            covered.update(range(p, p + k))
        expected[i] = (runs, len(dup), best + k - 1, len(covered))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_runs"],
            r["dup_anchors"],
            r["max_run_tokens"],
            r["dup_token_coverage"],
        )
        for r in substring_dup_runs(
            df, id_col="doc_id", text_col="text", k=k
        ).collect()
    }
    assert got == expected


@_slow
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5),
            min_size=0,
            max_size=25,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_substring_dup_attribution_matches_bruteforce(spark, docs_words):
    """substring_dup_attribution (k=3, uncapped) vs brute force: for every
    doc pair, occurrence pairs of equal k-grams grouped by diagonal
    (pos_a - pos_b), maximal runs by consecutive-pos islands — shared run
    count, total shared anchors, and longest shared span must all match
    for ANY corpus shape (multi-occurrence grams fan out into every
    cross pair; within-doc repeats never pair with themselves)."""
    from ibis_flink_example_spark.operators.dedup import (
        substring_dup_attribution,
    )

    k = 3
    texts = [" ".join(f"w{t}" for t in ws) for ws in docs_words]
    per_doc = []
    for txt in texts:
        ws = txt.split(" ")
        per_doc.append([tuple(ws[i : i + k]) for i in range(len(ws) - k + 1)])
    expected = {}
    for i in range(len(per_doc)):
        for j in range(i + 1, len(per_doc)):
            pairs = [
                (pa, pa - pb)
                for pa, ga in enumerate(per_doc[i])
                for pb, gb in enumerate(per_doc[j])
                if ga == gb
            ]
            if not pairs:
                continue
            by_diag: dict[int, list[int]] = {}
            for pa, d in pairs:
                by_diag.setdefault(d, []).append(pa)
            n_runs, best = 0, 1
            for pas in by_diag.values():
                pas.sort()
                n_runs += 1 + sum(
                    1 for a, b in zip(pas, pas[1:]) if b - a != 1
                )
                cur = 1
                for a, b in zip(pas, pas[1:]):
                    cur = cur + 1 if b - a == 1 else 1
                    best = max(best, cur)
            expected[(i, j)] = (n_runs, len(pairs), best + k - 1)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): (
            r["n_shared_runs"],
            r["shared_anchors"],
            r["max_shared_run_tokens"],
        )
        for r in substring_dup_attribution(
            df,
            id_col="doc_id",
            text_col="text",
            k=k,
            max_occurrences_per_gram=None,
        ).collect()
    }
    assert got == expected
