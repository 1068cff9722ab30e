"""Custom stateful streaming: per-user sessionization via
``applyInPandasWithState``.

This is the operator class Spark's built-ins can't express directly
(per-key mutable state across micro-batches with custom emission
rules). State per user: the open session (start, last_ts, n_events,
value_sum). On each batch, events are folded in timestamp order;
sessions closed by a gap are emitted immediately; the trailing open
session is kept in state (and in production closed by a processing-
time timeout).

Scale notes: state is O(active users), shuffled once by user_id; the
per-group fold is an Arrow-batched pandas loop, not row-at-a-time
Python over the raw stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MIN = 30

OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, value_sum double"
)
STATE_SCHEMA = "start long, last long, n long, vsum double"


def _fold_sessions(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    gap_sec: int = SESSION_GAP_MIN * 60,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        start_us, last_us, n, vsum = state.get
    else:
        start_us = last_us = None
        n, vsum = 0, 0.0

    closed: list[dict[str, Any]] = []
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ts_us = int(ts.value // 1000)  # pandas ns → µs
            if last_us is not None and (ts_us - last_us) > gap_sec * 1_000_000:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(start_us * 1000),
                        "session_end": pd.Timestamp(last_us * 1000),
                        "n_events": n,
                        "value_sum": round(vsum, 4),
                    }
                )
                start_us, n, vsum = ts_us, 0, 0.0
            if start_us is None:
                start_us = ts_us
            last_us = ts_us
            n += 1
            vsum += float(value) if value == value else 0.0  # NaN-safe

    state.update((start_us, last_us, n, vsum))
    if closed:
        yield pd.DataFrame(closed)


FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, t_view timestamp, t_click timestamp, t_purchase timestamp, "
    "stage_reached integer"
)
FUNNEL_STATE_SCHEMA = "t_view long, t_click long, t_purchase long"


def _fold_funnel(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    stages: tuple[str, ...] = FUNNEL_STAGES,
) -> Iterator[pd.DataFrame]:
    """Greedy ordered-funnel fold: first `view`, first `click` strictly
    after it, first `purchase` strictly after that. Processing each
    user's events in event-time order makes the greedy fold equal to
    the batch ``analytics.funnel.funnel_stages`` fixpoint (each batch
    is sorted here; cross-batch equality holds when micro-batches
    arrive in event-time order, i.e. replay/backfill — out-of-order
    arrivals within the watermark can only under-report a stage until
    the stream catches up, never mis-order one)."""
    (user_id,) = key
    ts_us: list[int | None] = list(state.get) if state.exists else [None] * len(stages)
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for et, ts in zip(pdf["event_type"], pdf["ts"]):
            t = int(ts.value // 1000)
            for i, s in enumerate(stages):
                if et != s or ts_us[i] is not None:
                    continue
                if i == 0 or (ts_us[i - 1] is not None and t > ts_us[i - 1]):
                    ts_us[i] = t
                break
    state.update(tuple(ts_us))
    row = {"user_id": user_id}
    for i, s in enumerate(stages):
        row[f"t_{s}"] = pd.Timestamp(ts_us[i] * 1000) if ts_us[i] is not None else pd.NaT
    out = pd.DataFrame([row])
    out["stage_reached"] = pd.array(
        [sum(1 for t in ts_us if t is not None)], dtype="int32"
    )
    yield out


def funnel_stateful(events_stream: DataFrame) -> DataFrame:
    """Streaming ordered conversion funnel (the A7 batch shape under
    readStream): per-user state is three stage timestamps — O(users),
    fixed width — updated per micro-batch and emitted in update mode."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _fold_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stateful(events_stream: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Streaming sessionization over a watermarked events stream."""
    gap_sec = gap_minutes * 60

    def fold(key, batches, state):
        return _fold_sessions(key, batches, state, gap_sec)

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
