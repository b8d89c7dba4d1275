"""Stateful streaming sessionization (applyInPandasWithState).

The batch form (operators/sessions.py) is a window function; in a live
stream the session state must survive across micro-batches. GroupState
keeps (last_ts, session_idx, n_events, session_start) per user;
processing-time timeout closes idle sessions. This is the engine's
custom stateful operator exemplar — the pattern any
transcript-conversation aggregation at 10^12 turns would follow.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("span_seconds", DoubleType()),
        StructField("last_ts", TimestampType()),
    ]
)

SESSION_STATE = StructType(
    [
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start", DoubleType()),  # epoch seconds
        StructField("last_seen", DoubleType()),
    ]
)


_OUT_COLS = ["user_id", "session_idx", "n_events", "span_seconds", "last_ts"]


def make_session_fn(gap_minutes: int = 30):
    gap = gap_minutes * 60.0

    def update(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # idle longer than the gap with no new events: flush the open
            # session as closed and drop the per-user state so it does not
            # accumulate forever across a 10^12-key stream
            rows = []
            if state.exists:
                session_idx, n_events, session_start, last_seen = state.get
                if n_events > 0:
                    rows.append(
                        (
                            user_id,
                            session_idx,
                            n_events,
                            last_seen - session_start,
                            pd.Timestamp(last_seen, unit="s"),
                        )
                    )
                state.remove()
            yield pd.DataFrame(rows, columns=_OUT_COLS)
            return
        if state.exists:
            session_idx, n_events, session_start, last_seen = state.get
        else:
            session_idx, n_events, session_start, last_seen = 0, 0, 0.0, float("-inf")

        rows = []

        def snapshot():
            rows.append(
                (
                    user_id,
                    session_idx,
                    n_events,
                    last_seen - session_start,
                    pd.Timestamp(last_seen, unit="s"),
                )
            )

        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for ts in pdf["ts"]:
                epoch = ts.timestamp()
                if epoch - last_seen > gap:
                    if n_events > 0:
                        snapshot()  # emit the closed session's final row
                    session_idx += 1
                    n_events = 0
                    session_start = epoch
                n_events += 1
                last_seen = epoch
        if n_events > 0:
            snapshot()  # live-session snapshot at end of batch
        state.update((session_idx, n_events, session_start, last_seen))
        # processing-time timeout: if no event arrives for a full gap the
        # hasTimedOut branch above closes the session and clears state
        state.setTimeoutDuration(int(gap * 1000))
        yield pd.DataFrame(rows, columns=_OUT_COLS)

    return update


def streaming_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events stream (event_id, user_id, ts) → per-user live session
    snapshot rows, state kept across micro-batches; idle users are
    flushed (final closed-session row) and evicted after one gap of
    processing-time silence.

    The processing-time timeout makes Spark keep scheduling no-data
    micro-batches to check for idle users, so a query over this operator
    never terminates on its own, even under ``trigger(availableNow=True)``
    (``processAllAvailable()`` does not return either): callers stop it
    explicitly, e.g. once ``recentProgress`` shows the input processed."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            make_session_fn(gap_minutes),
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def streaming_session_windows(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """EVENT-time sessionization via the native session_window + a
    watermark: Spark merges events whose event-time gap is under the
    threshold, holds the session open in state, and (in append mode)
    emits a session only once the watermark passes its end — late events
    inside the watermark still merge, later ones are dropped. This is
    the bounded-state, out-of-order-correct counterpart to the
    processing-time applyInPandasWithState operator above; prefer it
    whenever the business time is the event time."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), f"{gap_minutes} minutes"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
