"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

The builtin ``session_window`` covers gap-based sessions declaratively
(operators/windows.py); this module is the escape hatch the brief calls a
"custom stateful operator" — arbitrary per-key state machines the window
API cannot express (e.g. sessions that also close on a terminal event type
or a max-length cap).

Scale design: state is partitioned by user across the cluster (one shuffle,
same key layout as any groupBy); the watermark bounds how long an open
session's state survives; ``GroupStateTimeout.EventTimeTimeout`` emits and
evicts sessions whose gap elapsed with no further events.  Arrow-batched
per-group transfer, O(open sessions) state, not O(events).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double, closed_by string"
)
STATE_SCHEMA = "start bigint, last bigint, n bigint, total double"

def _interval_ms(spark, text: str) -> int:
    """Parse a duration with Spark's own interval parser.

    Accepts anything Spark accepts — '45 seconds', '1 day', compound
    '1 hour 30 minutes' — instead of a hand-rolled unit table that silently
    mishandled units beyond minute/second/hour.  Raises ``ValueError`` with
    the Spark parse error for unsupported text, and rejects non-positive or
    calendar (year/month) intervals, whose millisecond length is undefined.
    """
    import re

    if re.search(r"\b(year|month)", text, re.IGNORECASE):
        # a calendar interval added to epoch 0 resolves to January-anchored
        # day counts — an arbitrary number the docstring's contract rejects
        # (round-8 review: '1 month' previously slipped through as 31 days)
        raise ValueError(
            f"interval {text!r} must be a positive day-time duration; "
            "calendar units (year/month) have no fixed millisecond length"
        )
    try:
        row = (
            spark.range(1)
            .select(
                F.unix_millis(
                    F.timestamp_millis(F.lit(0)) + F.expr(f"INTERVAL '{text}'")
                ).alias("ms")
            )
            .head()
        )
    except Exception as exc:
        raise ValueError(f"unparseable interval {text!r}: {exc}") from None
    ms = row["ms"]
    if ms is None or ms <= 0:
        raise ValueError(f"interval {text!r} must be a positive day-time duration")
    return int(ms)


def _sessionize(gap_ms: int, terminal_event: str | None):
    """Build the per-key state function: fold event batches into an open
    session, emit it when the gap elapses (timeout) or a terminal event or
    the stream's end-of-input arrives."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        out: list[tuple] = []

        def emit(start_ms: int, last_ms: int, n: int, total: float, why: str) -> None:
            out.append(
                (
                    user_id,
                    pd.Timestamp(start_ms, unit="ms"),
                    pd.Timestamp(last_ms, unit="ms"),
                    n,
                    float(total),
                    why,
                )
            )

        if state.hasTimedOut:
            start_ms, last_ms, n, total = state.get
            emit(start_ms, last_ms, n, total, "timeout")
            state.remove()
        else:
            start_ms = last_ms = None
            n, total = 0, 0.0
            if state.exists:
                start_ms, last_ms, n, total = state.get
            # Vectorized fold: session boundaries are computed for the whole
            # batch with numpy (gap between consecutive events > gap_ms, or
            # a terminal event), segment sums via one cumsum — no per-event
            # Python iteration.  Chunks are concatenated and sorted once so
            # ordering holds across Arrow batch boundaries too.
            chunks = [p for p in pdfs if len(p)]
            if chunks:
                pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
                pdf = pdf.sort_values("ts")
                ts = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
                val = pdf["value"].to_numpy(dtype=float)
                m = len(ts)
                if terminal_event is not None:
                    term = pdf["event_type"].to_numpy() == terminal_event
                else:
                    term = np.zeros(m, dtype=bool)
                # the carried-over open session closes on a gap before the
                # first event of this batch
                if last_ms is not None and int(ts[0]) - last_ms > gap_ms:
                    emit(start_ms, last_ms, n, total, "gap")
                    start_ms, last_ms = None, None
                    n, total = 0, 0.0
                carry_open = last_ms is not None
                # Carried extremes are folded with min/max, NOT overwritten:
                # an above-watermark event can arrive in a LATER micro-batch
                # with a ts before the carried session's last (or start),
                # and taking the batch's own extremes would regress
                # session_end / the timeout basis — a timeout below the
                # watermark is also a hard error in the state store
                # (round-8 review).  The carried state holds aggregates,
                # not the event list, so the merged segment's internal gap
                # structure is approximated — its envelope is exact.
                carried_start, carried_last = start_ms, last_ms
                close = term.copy()
                close[:-1] |= (ts[1:] - ts[:-1]) > gap_ms
                why = np.where(term, "terminal", "gap")
                cs = np.concatenate(([0.0], np.cumsum(val)))
                seg_start = 0
                for e in np.flatnonzero(close):
                    e = int(e)
                    seg_n = e - seg_start + 1
                    seg_total = cs[e + 1] - cs[seg_start]
                    if seg_start == 0 and carry_open:
                        s_ms = min(int(carried_start), int(ts[0]))
                        e_ms = max(int(carried_last), int(ts[e]))
                        seg_n, seg_total = seg_n + n, seg_total + total
                    else:
                        s_ms = int(ts[seg_start])
                        e_ms = int(ts[e])
                    emit(int(s_ms), int(e_ms), int(seg_n), float(seg_total), str(why[e]))
                    seg_start = e + 1
                if seg_start < m:  # trailing open segment -> new state
                    t_n = m - seg_start
                    t_total = cs[m] - cs[seg_start]
                    if seg_start == 0 and carry_open:
                        t_n, t_total = t_n + n, t_total + total
                        start_ms = min(int(carried_start), int(ts[0]))
                        last_ms = max(int(carried_last), int(ts[-1]))
                    else:
                        start_ms = int(ts[seg_start])
                        last_ms = int(ts[-1])
                    n, total = int(t_n), float(t_total)
                else:
                    start_ms, last_ms = None, None
                    n, total = 0, 0.0
            if last_ms is not None:
                state.update((int(start_ms), int(last_ms), int(n), float(total)))
                state.setTimeoutTimestamp(int(last_ms) + gap_ms)
            elif state.exists:
                state.remove()
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_start", "session_end",
                "n_events", "total_value", "closed_by",
            ],
        )

    return fn


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    terminal_event: str | None = None,
) -> DataFrame:
    """Gap + optional terminal-event sessionization over a stream.

    Emits one row per closed session (append mode).  Open sessions close via
    event-time timeout once the watermark passes ``last_event + gap``.

    Boundary convention: an event arriving EXACTLY ``gap`` after the last
    one CONTINUES the session (the fold closes on strictly-greater gaps,
    matching the per-event reference loop in
    tests/test_streaming_stateful.py) — the SAME edge as the declarative
    ``session_window`` operators, which also merge an event at
    ``last + gap`` (verified on a minimal frame, late round 9), so the
    two sessionizers agree at the boundary instant.
    """
    gap_ms = _interval_ms(events.sparkSession, gap)
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    return ev.select("user_id", "ts", "value", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _sessionize(gap_ms, terminal_event),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

