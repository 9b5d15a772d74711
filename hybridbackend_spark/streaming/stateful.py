"""Custom stateful streaming operators via ``applyInPandasWithState``.

Where the built-in windowed aggregations (streaming/ops.py) cover the
declarative cases, this module shows the engine's escape hatch for
arbitrary per-key streaming state — the Spark-native analog of the
reference's custom C++ stateful dataset ops (e.g. the lookahead buffer in
``data/sync/sync_replicas_dataset.cc``): user-defined state schema,
timeout-driven eviction, incremental emission.

State is partitioned by key and bounded by timeouts, so memory is
O(active keys) per executor regardless of stream length.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .._fixed import CENTS, spark_round

__all__ = [
    "running_counter", "RUNNING_COUNTER_SCHEMA",
    "session_emitter", "SESSION_EMIT_SCHEMA",
    "zscore_flags", "ZSCORE_EMIT_SCHEMA",
]

RUNNING_COUNTER_SCHEMA = "user_id long, n_events long, sum_value double"
_STATE_SCHEMA = "n long, c long"


def _exact_cents(v: "pd.Series"):
    """The batch engines' ``CAST(round(x*100) AS BIGINT)`` cents as an
    int64 array (:func:`~hybridbackend_spark._fixed.spark_round`), with
    the same LOUD failure contract as that ANSI cast: a non-finite or
    out-of-int64-range value raises a named guard instead of pandas'
    behavior — which silently WRAPS finite overflow (1e300 becomes int64
    min, corrupting the running sum) and kills the stream with an opaque
    IntCastingNaNError on ±inf. Callers fillna(0.0) first, so NaN never
    reaches this; a raise here is the designed response to corrupt-scale
    input (|x| > ~9.2e16), mirroring the batch oracle's abort.
    """
    import numpy as np

    arr = spark_round(np.asarray(v, dtype="float64") * CENTS)
    bad = ~np.isfinite(arr) | (np.abs(arr) >= float(2**63))
    if bad.any():
        raise ValueError(
            "exact-cents value outside BIGINT range or non-finite "
            f"(|x| > ~9.2e16, inf, or NaN): {float(np.asarray(v)[bad][0])!r}"
        )
    return arr.astype("int64")


def _update_running_counter(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key accumulator: counts events and sums ``value`` across
    micro-batches (value accumulated as exact integer cents), emitting
    the running totals on every batch."""
    if state.hasTimedOut:
        state.remove()
        return
    n, c = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # exact integer cents, rounded half-away-from-zero (matches SQL
        # round()): the running sum is order- and batching-independent,
        # so the final emission is bit-reproducible against a batch
        # engine regardless of micro-batch splits
        c += int(_exact_cents(pdf["value"].fillna(0.0)).sum())
    state.update((n, c))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [c / 100.0]}
    )


def running_counter(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Streaming per-key running (count, sum(value)) with explicit state —
    the smallest complete example of a custom stateful operator. Each
    micro-batch emits the keys it touched with their updated totals."""
    return events.groupBy(key).applyInPandasWithState(
        _update_running_counter,
        outputStructType=RUNNING_COUNTER_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_EMIT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
_SESSION_STATE_SCHEMA = "n long, c long, t0 long, t1 long"


def _update_session_emitter(gap_ms: int):
    gap_us = gap_ms * 1000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def row(n, c, t0, t1):
            return {
                "user_id": key[0],
                "session_start": pd.Timestamp(t0, unit="us"),
                "session_end": pd.Timestamp(t1, unit="us"),
                "n_events": n,
                "sum_value": c / 100.0,
            }

        if state.hasTimedOut:
            # watermark passed last_event + gap with no new data: the
            # session is closed — emit once, evict the state (keeps
            # memory O(active keys), not O(keys ever seen))
            n, c, t0, t1 = state.get
            state.remove()
            yield pd.DataFrame([row(n, c, t0, t1)])
            return

        import numpy as np

        ts_all, cents_all = [], []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # NULL event times cannot be placed in any session — drop
            # them like the built-in watermark operators do (a NaT's
            # int64 sentinel is negative and would arm a negative
            # timeout, killing the whole stream)
            tsv = pd.to_datetime(pdf["ts"])
            ok = tsv.notna().to_numpy()
            if not ok.any():
                continue
            v = pdf["value"].fillna(0.0)[ok]
            cents_all.append(_exact_cents(v))
            ts_all.append(tsv[ok].astype("int64").to_numpy() // 1000)
        if not ts_all:
            # only NULL-event-time rows arrived: nothing to add; keep
            # the open session (if any) and re-arm its gap timer —
            # timeouts are cleared whenever the function is invoked.
            # The watermark may have passed the session's gap deadline
            # in this very trigger (keys WITH batch rows never get
            # hasTimedOut=True), and setTimeoutTimestamp refuses a
            # timestamp at/behind the watermark — in that case the gap
            # has provably elapsed, so close the session now exactly as
            # the timer would have.
            if state.exists:
                deadline_ms = state.get[3] // 1000 + gap_ms
                if deadline_ms <= state.getCurrentWatermarkMs():
                    n, c, t0, t1 = state.get
                    state.remove()
                    yield pd.DataFrame([row(n, c, t0, t1)])
                else:
                    state.setTimeoutTimestamp(deadline_ms)
            return
        ts = np.concatenate(ts_all)
        cents = np.concatenate(cents_all)
        order = np.argsort(ts, kind="stable")
        ts, cents = ts[order], cents[order]

        closed: list[dict] = []
        if state.exists:
            n, c, t0, t1 = state.get
        else:
            n, c, t0, t1 = 0, 0, None, None
        for t, cv in zip(ts.tolist(), cents.tolist()):
            # >= gap: session_window treats windows as half-open
            # [start, last + gap) — an event landing exactly at
            # last + gap starts a NEW session. Matching it keeps the
            # "identical output contract" claim below exact.
            if t1 is not None and t - t1 >= gap_us:
                # the arriving data itself proves the gap elapsed:
                # close the running session now (no need to wait for
                # the watermark timer)
                closed.append(row(n, c, t0, t1))
                n, c, t0, t1 = 0, 0, None, None
            n += 1
            c += int(cv)
            t0 = t if t0 is None else min(t0, t)
            t1 = t if t1 is None else max(t1, t)
        state.update((n, c, t0, t1))
        # the still-open tail session closes by timer if no more data comes
        state.setTimeoutTimestamp(t1 // 1000 + gap_ms)
        if closed:
            yield pd.DataFrame(closed)

    return update


def session_emitter(
    events: DataFrame, gap: str = "30 minutes", key: str = "user_id"
) -> DataFrame:
    """Custom stateful sessionizer with EVENT-TIME TIMEOUT eviction: per
    key, accumulate (count, exact-cents sum, start, end); when the
    watermark passes last-event + gap, the state times out, the session
    summary is emitted ONCE, and the state is removed.

    This is the escape-hatch counterpart of the built-in
    ``session_agg`` (session_window): identical output contract, but
    the state machine is explicit — the pattern to extend when a
    session needs custom close conditions (cart abandoned, error burst
    over) that ``session_window`` cannot express. Requires a watermark
    on ``ts``; sessions still open when the stream ends are NOT emitted
    (exactly the semantics a restartable job needs — they emit after
    more data or a final punctuation arrives).
    """
    n = int(gap.split()[0])
    unit = gap.split()[1].rstrip("s")
    ms = {"second": 1000, "minute": 60000, "hour": 3600000}[unit] * n
    return events.groupBy(key).applyInPandasWithState(
        _update_session_emitter(ms),
        outputStructType=SESSION_EMIT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


ZSCORE_EMIT_SCHEMA = "user_id long, event_id long, cents long, n_prior long"
_ZSCORE_STATE_SCHEMA = "n long, s long, q long"


def _update_zscore_flags(min_prior: int, k_sigma: int, ttl_ms: int | None):
    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            # key idle past the TTL horizon: drop its (n, s, q) so state
            # size tracks ACTIVE keys, not every key ever seen
            state.remove()
            return
        n0, s0, q0 = state.get if state.exists else (0, 0, 0)

        def rearm_from_watermark() -> None:
            # invoking the function CLEARS any armed timer, so a batch
            # that adds no data must still re-arm the TTL or the key's
            # (n, s, q) leaks forever if real data never returns. The
            # state carries no last-event time, so re-arm from the
            # watermark — never behind it, and the key still expires
            # within one TTL of the stream's event-time frontier.
            if ttl_ms is not None:
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + ttl_ms
                )

        frames = [p for p in pdfs if len(p)]
        if not frames:
            state.update((n0, s0, q0))
            rearm_from_watermark()
            return
        pdf = pd.concat(frames)
        # drop NULL event times (watermark-operator semantics; a NaT
        # would arm a negative TTL timeout below and kill the stream)
        pdf = pdf[pd.to_datetime(pdf["ts"]).notna()]
        if len(pdf) == 0:
            state.update((n0, s0, q0))
            rearm_from_watermark()
            return
        # event-time order within the batch; state carries across batches
        pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
        xs = _exact_cents(pdf["value"].fillna(0.0))
        # PRIOR stats for row i = state + cumulative of rows < i
        cn = n0 + np.arange(len(xs), dtype="int64")
        cs = s0 + np.concatenate(([0], np.cumsum(xs)[:-1])).astype("int64")
        cq = q0 + np.concatenate(
            ([0], np.cumsum(xs * xs)[:-1])
        ).astype("int64")
        # exact integer z-test: |x - mean| > k*sd  <=>
        # (n*x - s)^2 > k^2 * (n*q - s^2)   [both sides * n^2 var]
        lhs = (cn * xs - cs) ** 2
        rhs = (k_sigma * k_sigma) * (cn * cq - cs * cs)
        flag = (cn >= min_prior) & (lhs > rhs)
        state.update(
            (
                int(n0 + len(xs)),
                int(s0 + xs.sum()),
                int(q0 + (xs * xs).sum()),
            )
        )
        if ttl_ms is not None:
            # event-time retention: the key's state expires when the
            # watermark passes its last event + TTL (timer re-armed on
            # every batch that carries data for the key)
            last_ms = int(
                pd.to_datetime(pdf["ts"]).astype("int64").max() // 1_000_000
            )
            state.setTimeoutTimestamp(last_ms + ttl_ms)
        if flag.any():
            out = pdf.loc[flag.tolist(), ["user_id", "event_id"]].copy()
            out["cents"] = xs[flag]
            out["n_prior"] = cn[flag]
            yield out[["user_id", "event_id", "cents", "n_prior"]]

    return update


def zscore_flags(
    events: DataFrame,
    key: str = "user_id",
    min_prior: int = 8,
    k_sigma: int = 3,
    state_ttl: str | None = "30 days",
) -> DataFrame:
    """Streaming per-key anomaly flags: an event is flagged when its
    value lies more than ``k_sigma`` standard deviations from the mean
    of all PRIOR events of that key — evaluated as the exact integer
    cross-multiplied inequality ``(n*x - s)^2 > k^2 (n*q - s^2)`` on
    cents, so no floating point is involved and a batch SQL engine
    reproduces every flag bit-for-bit (window sums over the strictly-
    preceding frame). Events are processed in event-time order within
    each micro-batch with (n, s, q) carried across batches; state is
    three longs per key.

    ``state_ttl`` bounds the state store: a key whose last event falls
    ``state_ttl`` behind the watermark is evicted (EventTimeTimeout,
    same discipline as ``session_emitter``), so state tracks ACTIVE
    keys rather than every key ever seen — with unbounded key
    cardinality the store would otherwise grow without limit. Requires
    a watermark on the input when set. A key returning after eviction
    restarts its baseline (its first ``min_prior`` events are
    unflagged again), the standard retention trade-off of a streaming
    anomaly model. Pass ``None`` for the unbounded contract when key
    cardinality is known-small."""
    if state_ttl is None:
        ttl_ms = None
        timeout = GroupStateTimeout.NoTimeout
    else:
        n = int(state_ttl.split()[0])
        unit = state_ttl.split()[1].rstrip("s")
        ttl_ms = n * {
            "second": 1000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000,
        }[unit]
        timeout = GroupStateTimeout.EventTimeTimeout
    return events.groupBy(key).applyInPandasWithState(
        _update_zscore_flags(min_prior, k_sigma, ttl_ms),
        outputStructType=ZSCORE_EMIT_SCHEMA,
        stateStructType=_ZSCORE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )
