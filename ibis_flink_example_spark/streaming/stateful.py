"""Keyed streaming state for the streaming over-window and its siblings: a
custom stateful operator via ``applyInPandasWithState`` (SURVEY.md §2.9
T3, §2.10) — the Spark analog of Flink's keyed OverAggregate state (a
per-key buffer of (ts, value) pairs, evicted as event time advances past
the lookback). ``stateful_range_over_sum`` is the package's one streaming
RANGE sum; ``streaming/pipeline.py`` builds the reference pipeline on it.

One scaffold, four operators: ``keyed_state`` owns the wiring (``select``
→ ``withWatermark`` → ``groupBy`` → ``applyInPandasWithState`` in append
mode with ``NoTimeout``) and ``keyed_update`` the per-key update around it:
decode the state, concatenate and mergesort the key's micro-batch on its
sort keys, convert the event time to epoch µs, call the operator's pure
``step(key, pdf, ts_us, st) -> pdf`` and encode ``st`` back. ``step``
reads and reassigns the decoded dict ``st``.

State schema from ``init``: ``init`` maps each state field, in order, to
its empty value. An ``int`` becomes a ``LongType`` field; any other value
(a list or tuple of integers) becomes a ``BinaryType`` field of
little-endian int64 bytes (``pack_i64`` / ``unpack_i64``), which ``step``
sees as a read-only int64 array. Keyed state therefore never holds arrays
or maps: Spark resolves the state encoder again every micro-batch, and an
array field puts a ``MapObjects`` with fresh lambda-variable ids into the
generated state projections, so their code differs from batch to batch,
misses the codegen cache and costs a Janino compile plus JIT warm-up of a
new class on every batch. Binary and long fields generate the same code
every batch. Packed bytes also spare the JVM boxing each element into a
``java.lang.Long`` on the pickle path. A checkpoint written with the old
``array<bigint>`` state schema fails Spark's state-schema compatibility
check on restart; the queries in this package mint a fresh checkpoint per
run.

Emission: results are emitted per micro-batch from the rows IN that
batch, using state from all prior batches + the current one. Within a
batch, rows are processed in event-time order, so for any input split the
emitted aggregate for each row equals the batch RANGE-frame result over
rows seen so far — the batch oracle when the input arrives in
watermark-respecting order. No row waits for the watermark, so a drained
bounded run emits every admitted row.

Late-row contract (Flink `OverAggregate` parity, SURVEY.md §2.9 T2): the
buffer retains ``lookback + delay`` of history behind each key's max event
time, so a row up to ``delay`` late still finds its exact frame. Rows MORE
than ``delay`` behind the key's max are dropped (no emission) — the per-key
analog of the watermark drop, applied deterministically inside the operator
because Spark's own late-row filter lags one micro-batch behind. Per-key max
is a lower bound on the global max, so this drops a subset of what Flink's
global watermark would — never a correct-in-Flink row.

State size: one (ts, value) list per key, pruned to the lookback+delay
horizon — O(key_cardinality x frame density), the bound Flink's operator
carries.
"""

from __future__ import annotations

import bisect
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

Step = Callable[[Any, pd.DataFrame, np.ndarray, dict], pd.DataFrame]


def pack_i64(a) -> bytes:
    """Array-like of integers -> little-endian int64 bytes (a state field)."""
    return np.asarray(a).astype("<i8", copy=False).tobytes()


def unpack_i64(b) -> np.ndarray:
    """Little-endian int64 bytes (``bytes`` or ``bytearray``, as the state
    pickle path returns them) -> read-only int64 array."""
    return np.frombuffer(b, "<i8")


def keyed_update(step: Step, *, init: dict, sort_by, time_col: str):
    """The ``applyInPandasWithState`` update function behind
    ``keyed_state``: decode the key's state (``init`` when it has none),
    sort the key's rows on ``sort_by``, run ``step`` and encode its
    ``st`` back. Tests drive it with a fake ``GroupState``."""
    fields = [(name, isinstance(v, int)) for name, v in init.items()]
    # buffers read back exactly as from state: read-only int64 arrays
    empty = {
        n: v if isinstance(v, int) else unpack_i64(pack_i64(v)) for n, v in init.items()
    }

    def update(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = {
                name: int(v) if scalar else unpack_i64(v)
                for (name, scalar), v in zip(fields, state.get)
            }
        else:
            st = dict(empty)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(sort_by, kind="mergesort")
        # normalize to µs regardless of pandas datetime unit (ns or µs)
        ts_us = pdf[time_col].astype("datetime64[us]").astype("int64").to_numpy()
        out = step(key_tuple[0], pdf, ts_us, st)
        state.update(
            tuple(st[name] if scalar else pack_i64(st[name]) for name, scalar in fields)
        )
        yield out

    return update


def keyed_state(
    stream: DataFrame, step: Step, *, key: str, columns: list[str], time_col: str,
    sort_by, out_fields: list[T.StructField], init: dict, delay_seconds: float | None,
) -> DataFrame:
    """Run ``step`` per key of ``stream[columns]`` on state declared by
    ``init`` (see the module docstring), watermarked by ``delay_seconds``
    on ``time_col`` unless it is None. Returns an append stream of
    ``out_fields``."""
    src = stream.select(*columns)
    if delay_seconds is not None:
        src = src.withWatermark(time_col, f"{delay_seconds} seconds")
    state_schema = T.StructType([
        T.StructField(n, T.LongType() if isinstance(v, int) else T.BinaryType())
        for n, v in init.items()
    ])
    return src.groupBy(key).applyInPandasWithState(
        keyed_update(step, init=init, sort_by=sort_by, time_col=time_col),
        outputStructType=T.StructType(out_fields),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cents(values: pd.Series) -> np.ndarray:
    """Half-up quantization to integer cents — the SAME idiom as the batch
    twins and SQL oracles (np.rint is half-to-even and would diverge on
    exact .5 products if the 2-decimal input contract were ever violated)."""
    return np.floor(values.to_numpy() * 100 + 0.5).astype(np.int64)


def _admitted(row_ts: np.ndarray, buf_ts: np.ndarray, delay_us: int) -> np.ndarray:
    """Per-key watermark drop (T2): a row more than ``delay_us`` behind the
    newest buffered event time is late. Within the sorted batch a row is
    never late relative to same-batch rows (its own ts is part of the
    running max), so the cut is against the prior batches' max only."""
    if len(buf_ts):
        return row_ts >= buf_ts[-1] - delay_us
    return np.ones(len(row_ts), dtype=bool)


def range_sum_step(
    *, key: str, row_id: str, time_col: str, measure: str, out_col: str,
    lookback_us: int, delay_us: int,
) -> Step:
    """Trailing RANGE-frame sum over state ``ts_us`` / ``cents``: parallel
    int64 buffers of event time (µs) and measure in integer cents
    (2-decimal-exact, order-independent sums) kept inside the
    lookback+delay horizon of the max timestamp seen.

    Vectorized: one numpy pass per (key, batch) instead of a per-row Python
    loop over the buffer (O(n log n) vs O(n·frame)).
    - Eviction can't change any emitted frame: evicted entries sit below
      max - lookback - delay, while every non-late row's frame floor is
      >= max - delay - lookback. So eviction happens once, at the end.
    - RANGE-frame peers (equal ts) are all included via searchsorted
      side='right' — exact SQL RANGE ... CURRENT ROW semantics.
    - Sums accumulate integer cents; one float division at the end.
    """

    def step(k, pdf, row_ts, st):
        prior_ts = st["ts_us"]
        keep = _admitted(row_ts, prior_ts, delay_us)
        kept_ts = row_ts[keep]

        # merged sorted timeline = surviving buffer + this batch's rows
        all_ts = np.concatenate([prior_ts, kept_ts])
        all_cents = np.concatenate([st["cents"], _cents(pdf[measure])[keep]])
        order = np.argsort(all_ts, kind="stable")
        all_ts = all_ts[order]
        all_cents = all_cents[order]
        cum = np.cumsum(all_cents)

        # frame [t - lookback, t] per kept row: prefix-sum difference
        hi = np.searchsorted(all_ts, kept_ts, side="right")
        lo = np.searchsorted(all_ts, kept_ts - lookback_us, side="left")
        sums = (cum[hi - 1] - np.where(lo > 0, cum[lo - 1], 0)) / 100.0

        # evict once: keep lookback+delay of history behind the new max
        cut = np.searchsorted(all_ts, all_ts[-1] - lookback_us - delay_us, side="left")
        st["ts_us"], st["cents"] = all_ts[cut:], all_cents[cut:]
        return pd.DataFrame(
            {
                row_id: pdf[row_id].to_numpy()[keep],
                key: np.repeat(k, len(kept_ts)),
                time_col: pdf[time_col].to_numpy()[keep],
                out_col: sums,
            }
        )

    return step


def stateful_range_over_sum(
    stream: DataFrame,
    *,
    key: str,
    time_col: str,
    measure: str,
    row_id: str,
    lookback_seconds: float,
    delay_seconds: float,
    out_col: str,
) -> DataFrame:
    """Streaming per-row trailing SUM via per-key buffer state.

    ``stream``: streaming DataFrame with event-time ``time_col`` (watermark is
    applied here). Returns an append stream (row_id, key, time_col, out_col).
    """
    in_schema = stream.schema
    step = range_sum_step(
        key=key, row_id=row_id, time_col=time_col, measure=measure,
        out_col=out_col, lookback_us=int(lookback_seconds * 1_000_000),
        delay_us=int(delay_seconds * 1_000_000),
    )
    return keyed_state(
        stream, step, key=key, columns=[row_id, key, time_col, measure],
        time_col=time_col, sort_by=time_col,
        out_fields=[
            T.StructField(row_id, in_schema[row_id].dataType),
            T.StructField(key, in_schema[key].dataType),
            T.StructField(time_col, T.TimestampType()),
            T.StructField(out_col, T.DoubleType()),
        ],
        init={"ts_us": (), "cents": ()},
        delay_seconds=delay_seconds,
    )


def anomaly_step(
    *, key: str, row_id: str, measure: str, lookback: int, min_prior: int,
    z_threshold: int, delay_us: int,
) -> Step:
    """ROWS-frame z-test over state ``ts_us`` / ``ids`` / ``cents`` (the
    last ``lookback`` events of the key); see ``stateful_rows_anomaly``."""
    t2 = z_threshold * z_threshold

    def step(k, pdf, row_ts, st):
        buf_ts = st["ts_us"]
        keep = _admitted(row_ts, buf_ts, delay_us)
        k_ts = row_ts[keep]
        k_ids = pdf[row_id].to_numpy(dtype=np.int64)[keep]
        k_cents = _cents(pdf[measure])[keep]
        k_vals = pdf[measure].to_numpy()[keep]

        # Merge buffer + batch into (ts, id) order. In-order replay appends;
        # a within-delay straggler lands in its exact batch-semantics slot.
        all_ts = np.concatenate([buf_ts, k_ts])
        all_ids = np.concatenate([st["ids"], k_ids])
        all_cents = np.concatenate([st["cents"], k_cents])
        order = np.lexsort((all_ids, all_ts))
        all_ts, all_ids, all_cents = all_ts[order], all_ids[order], all_cents[order]

        cum_s = np.concatenate([[0], np.cumsum(all_cents)])
        cum_q = np.concatenate([[0], np.cumsum(all_cents * all_cents)])
        # merged position of each new row (positions of batch entries in the
        # merged order = where their concat-indices ended up)
        pos_of = np.empty(len(order), dtype=np.int64)
        pos_of[order] = np.arange(len(order))
        new_pos = pos_of[len(buf_ts):]

        # prior-`lookback` frame in merged coordinates. The buffer holds
        # the key's last `lookback` events, so an in-order row has
        # min(lookback, events seen) of them before it; a straggler sorting
        # before retained-buffer entries has its frame clamped to the
        # retained horizon (lo >= 0), since evicted history is gone.
        n = np.minimum(new_pos, lookback)
        lo = new_pos - n
        s = cum_s[new_pos] - cum_s[lo]
        q = cum_q[new_pos] - cum_q[lo]
        x = all_cents[new_pos]
        dev = n * x - s
        flagged = (n >= min_prior) & (dev * dev > t2 * (n * q - s * s))

        cut = max(0, len(all_ts) - lookback)
        st["ts_us"], st["ids"], st["cents"] = all_ts[cut:], all_ids[cut:], all_cents[cut:]
        return pd.DataFrame(
            {
                row_id: k_ids,
                key: np.repeat(k, len(k_ids)),
                measure: k_vals,
                # n/flagged are indexed by concat order = batch sorted
                # order, so they align with k_ids element-wise
                "n_prior": n.astype(np.int32),
                "is_anomaly": flagged,
            }
        )

    return step


def stateful_rows_anomaly(
    stream: DataFrame,
    *,
    key: str,
    time_col: str,
    measure: str,
    row_id: str,
    lookback: int = 20,
    min_prior: int = 5,
    z_threshold: int = 3,
    delay_seconds: float = 15.0,
) -> DataFrame:
    """Streaming twin of ``operators/funnel.py:trailing_anomaly_flags``:
    per-key ROWS-frame z-test (|x − μ| > z·σ over the previous ``lookback``
    events) as a custom stateful operator — the monitoring pipeline shape
    (payment-fraud flags over the reference's payment stream).

    State per key is O(lookback): the last ``lookback`` (ts_us, id, cents)
    triples, so before the buffer fills it holds every event the key has
    seen and ``n_prior`` matches the batch semantics. The z-test runs in
    integer cents — identical to the batch operator, so a drained in-order
    run equals the batch oracle row-for-row. Late rows: ROWS frames are arrival-
    order-sensitive, so rows more than ``delay_seconds`` behind the key's
    max event time are dropped (same per-key watermark contract as
    ``stateful_range_over_sum``); rows within the delay are merged into
    (ts, id) order with the retained buffer before framing. A straggler
    whose frame would extend past the retained buffer into EVICTED
    history is tested (and reports ``n_prior``) over the retained
    horizon only — a truncated-but-consistent frame, never corrupted
    state; in-order arrival never truncates.
    """
    in_schema = stream.schema
    step = anomaly_step(
        key=key, row_id=row_id, measure=measure, lookback=lookback,
        min_prior=min_prior, z_threshold=z_threshold,
        delay_us=int(delay_seconds * 1_000_000),
    )
    return keyed_state(
        stream, step, key=key, columns=[row_id, key, time_col, measure],
        time_col=time_col, sort_by=[time_col, row_id],
        out_fields=[
            T.StructField(row_id, in_schema[row_id].dataType),
            T.StructField(key, in_schema[key].dataType),
            T.StructField(measure, T.DoubleType()),
            T.StructField("n_prior", T.IntegerType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ],
        init={"ts_us": (), "ids": (), "cents": ()},
        delay_seconds=delay_seconds,
    )


def funnel_step(steps: list[str], *, key: str, type_col: str) -> Step:
    """Stage completion times over state ``times`` (one per step, -1 for
    unreached) and ``seq`` (micro-batches seen); see
    ``stateful_funnel_stages``."""
    step_idx = {s: i for i, s in enumerate(steps)}

    def step(k, pdf, ts_us, st):
        times = st["times"].tolist()
        for t, ty in zip(ts_us, pdf[type_col].to_numpy()):
            i = step_idx.get(ty)
            if i is None:
                continue
            if i == 0:
                if times[0] == -1 or t < times[0]:
                    times[0] = int(t)
            else:
                prev = times[i - 1]
                if prev != -1 and t > prev and (times[i] == -1 or t < times[i]):
                    times[i] = int(t)
        st["times"], st["seq"] = times, st["seq"] + 1
        return pd.DataFrame(
            {
                key: [k],
                "update_seq": [st["seq"]],
                **{f"t_{s}_us": [times[i]] for i, s in enumerate(steps)},
            }
        )

    return step


def stateful_funnel_stages(
    stream: DataFrame,
    steps: list[str],
    *,
    key: str,
    time_col: str,
    type_col: str,
) -> DataFrame:
    """Streaming funnel (operators/funnel.py semantics): per-key stage
    completion times maintained as keyed state — t_1 = min ts of a step-1
    event; t_{k+1} = min ts of a step-(k+1) event strictly after t_k.

    Processing each micro-batch in event-time order makes the sequential
    update equal the batch definition on a drained in-order run (the
    prefix-min argument in funnel_stage_times' docstring). State per key is
    k timestamps — O(1), watermark-free by design (a funnel stage, once
    reached, never un-happens; there is nothing to evict).

    Emits the CURRENT (t_1..t_k) per key per micro-batch (epoch-µs, -1 for
    unreached) plus a monotone batch sequence ``update_seq``; the drained
    snapshot is the max-``update_seq`` row per key (run_available_now
    output post-processed with max_by).
    """
    return keyed_state(
        stream, funnel_step(steps, key=key, type_col=type_col), key=key,
        columns=[key, time_col, type_col], time_col=time_col, sort_by=time_col,
        out_fields=[
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("update_seq", T.LongType()),
            *[T.StructField(f"t_{s}_us", T.LongType()) for s in steps],
        ],
        init={"times": [-1] * len(steps), "seq": 0},
        delay_seconds=None,
    )


def sessionize_step(*, key: str, measure: str, gap_us: int, delay_us: int) -> Step:
    """Session insert/merge/bridge and watermark-final emission over state
    ``starts`` / ``lasts`` / ``ns`` / ``cents`` (parallel int64 buffers
    over the unsettled sessions, in start order), ``emitted_seq`` and
    ``max_seen``; see ``stateful_sessionize``."""

    def step(k, pdf, row_ts, st):
        # rows of (start, last, n, cents) as Python ints
        sessions = np.stack(
            [st["starts"], st["lasts"], st["ns"], st["cents"]], axis=1
        ).tolist()
        emitted_seq, max_seen = st["emitted_seq"], st["max_seen"]

        for t, c in zip(row_ts.tolist(), _cents(pdf[measure]).tolist()):
            if t < max_seen - delay_us:
                continue  # beyond the per-key lateness budget: drop
            max_seen = max(max_seen, t)
            # position of the first session starting after t
            i = bisect.bisect_right([s[0] for s in sessions], t)
            prev = sessions[i - 1] if i > 0 else None
            nxt = sessions[i] if i < len(sessions) else None
            # t >= prev[0] by bisect, so prev-adjacency is just the gap test
            # (a t inside prev's [start, last] span gives t - last <= 0)
            near_prev = prev is not None and t - prev[1] <= gap_us
            near_next = nxt is not None and nxt[0] - t <= gap_us
            if near_prev and near_next:
                # bridges two unsettled sessions into one
                prev[1] = max(prev[1], nxt[1])
                prev[2] += nxt[2] + 1
                prev[3] += nxt[3] + c
                del sessions[i]
            elif near_prev:
                prev[1] = max(prev[1], t)
                prev[2] += 1
                prev[3] += c
            elif near_next:
                nxt[0] = min(nxt[0], t)
                nxt[2] += 1
                nxt[3] += c
            else:
                sessions.insert(i, [t, t, 1, c])

        # finalize: watermark passed end+gap -> no admissible row can join
        wm = max_seen - delay_us
        n_final = 0
        while n_final < len(sessions) and sessions[n_final][1] + gap_us < wm:
            n_final += 1
        finals = sessions[:n_final]
        st["starts"], st["lasts"], st["ns"], st["cents"] = (
            np.array(sessions[n_final:], dtype=np.int64).reshape(-1, 4).T
        )
        st["emitted_seq"], st["max_seen"] = emitted_seq + n_final, max_seen

        return pd.DataFrame(
            {
                key: np.repeat(k, n_final),
                "session_seq": np.arange(
                    emitted_seq + 1, emitted_seq + n_final + 1, dtype=np.int64
                ),
                "session_start": np.array([s[0] for s in finals], dtype="datetime64[us]"),
                "session_end": np.array([s[1] for s in finals], dtype="datetime64[us]"),
                "n_events": np.array([s[2] for s in finals], dtype=np.int64),
                "sum_value": np.array([s[3] for s in finals], dtype=np.float64) / 100.0,
            }
        )

    return step


def stateful_sessionize(
    stream: DataFrame,
    *,
    key: str,
    time_col: str,
    measure: str,
    tiebreak_col: str,
    gap_seconds: float,
    delay_seconds: float,
) -> DataFrame:
    """Streaming session assignment with EXPLICIT session IDs — the
    streaming twin of the batch gaps-and-islands sessionize
    (queries_analytics.py:sessionize_stats; W3 session semantics carried on
    T3 keyed state instead of session_window, which emits windows but not
    session membership/sequence numbers).

    Emission is WATERMARK-FINAL: a session is emitted only once the key's
    watermark (max seen event time − ``delay_seconds``) passes
    ``session_end + gap_seconds`` — at that point no admissible straggler
    can extend or bridge it, so every emitted row is identical to the
    batch gaps-and-islands result over the same admitted events. (Emitting
    eagerly when a successor merely exceeds the gap would be wrong: a
    within-delay straggler landing in the tail of the gap window can
    BRIDGE the emitted session with the open one — batch would merge them,
    append-mode cannot retract.)

    Per-key state is the list of UNSETTLED sessions (start, last, n,
    cents) — those the watermark hasn't finalized — plus the count of
    sessions already emitted (for seq numbering). A new row merges into an
    adjacent session (within gap on either side), bridges two into one, or
    opens its own; rows more than ``delay_seconds`` behind the key's max
    are dropped (per-key watermark, same T2 contract as
    stateful_range_over_sum). Unsettled sessions per key are bounded by
    delay/gap ratio + 1 — O(1) state for any fixed configuration.
    Randomized equivalence against an independent batch reference is
    pinned in tests/test_properties.py.

    Output: (key, session_seq, session_start, session_end, n_events,
    sum_value) — identical column contract to the batch query; sums carry
    integer cents internally (2-decimal-exact, order-independent).
    """
    step = sessionize_step(
        key=key, measure=measure, gap_us=int(gap_seconds * 1_000_000),
        delay_us=int(delay_seconds * 1_000_000),
    )
    return keyed_state(
        stream, step, key=key, columns=[key, time_col, tiebreak_col, measure],
        time_col=time_col, sort_by=[time_col, tiebreak_col],
        out_fields=[
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("session_seq", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ],
        init={
            "starts": (), "lasts": (), "ns": (), "cents": (),
            "emitted_seq": 0, "max_seen": -(1 << 62),
        },
        delay_seconds=delay_seconds,
    )
