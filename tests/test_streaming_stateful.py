"""Stateful streaming sessionization vs its batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from woe_monotonic_binning_spark.operators.windows import session_agg
from woe_monotonic_binning_spark.sources.tables import load_table, microsecond_parquet_copy
from woe_monotonic_binning_spark.streaming.events import (
    read_events_stream,
    run_available_now,
)
from woe_monotonic_binning_spark.streaming.stateful import sessionize_stream

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_path():
    return microsecond_parquet_copy(SF, "events")


def _keyed(df, start_col="session_start"):
    return df.select(
        "user_id",
        F.date_format(start_col, "yyyy-MM-dd HH:mm:ss").alias("ss"),
        "n_events",
        F.round("total_value", 6).alias("tv"),
    )


def test_stream_sessions_match_batch(spark, events_path):
    stream = read_events_stream(spark, events_path)
    out = run_available_now(
        sessionize_stream(stream), "t_sessions", output_mode="append"
    ).cache()
    batch = session_agg(load_table(spark, SF, "events")).cache()

    n_stream, n_batch = out.count(), batch.count()
    # every emitted session must exist in the batch result, value-identical
    matched = _keyed(out).join(_keyed(batch), ["user_id", "ss", "n_events", "tv"]).count()
    assert matched == n_stream
    # only sessions still inside the final watermark may be missing: those
    # whose timeout (last_event + gap) lies beyond max_ts - watermark_delay
    ev = load_table(spark, SF, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    cutoff = F.lit(max_ts) - F.expr("INTERVAL 60 MINUTES")  # gap + watermark
    still_open = batch.filter(F.col("session_end") > cutoff).count()
    assert n_batch - n_stream <= still_open
    assert n_stream > 0.9 * n_batch


class _FakeState:
    """Minimal GroupState stand-in for driving the state fn in-process."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.timeout = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value = None

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def _reference_fold(rows, gap_ms, terminal, carry):
    """Per-event Python loop (the pre-vectorization semantics): the oracle
    the numpy fold in stateful.py must reproduce exactly."""
    out = []
    start, last, n, total = carry if carry else (None, None, 0, 0.0)
    for ts, value, etype in sorted(rows):
        if last is not None and ts - last > gap_ms:
            out.append((start, last, n, total, "gap"))
            start, n, total = ts, 0, 0.0
        if start is None:
            start = ts
        last, n, total = ts, n + 1, total + float(value)
        if terminal is not None and etype == terminal:
            out.append((start, last, n, total, "terminal"))
            start, last, n, total = None, None, 0, 0.0
    new_state = (start, last, n, total) if last is not None else None
    return out, new_state


@pytest.mark.parametrize("terminal", [None, "click"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_vectorized_fold_matches_per_event_loop(terminal, seed):
    """The numpy session fold must emit the same sessions and leave the same
    open-session state as a per-event loop, across random gap/terminal mixes
    and with/without carried-over state."""
    import random

    import pandas as pd

    from woe_monotonic_binning_spark.streaming.stateful import _sessionize

    rng = random.Random(seed)
    gap_ms = 5_000
    ts, t = [], 1_000_000
    for _ in range(200):
        t += rng.choice([100, 1_000, 4_999, 5_000, 5_001, 20_000])
        ts.append(t)
    rows = [
        (x, rng.uniform(0, 10), rng.choice(["click", "view", "buy"])) for x in ts
    ]
    for carry in (None, (900_000, 998_000, 3, 7.5)):
        exp_out, exp_state = _reference_fold(rows, gap_ms, terminal, carry)
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows], unit="ms"),
                "value": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
        state = _FakeState(carry)
        # split the batch across two Arrow-style chunks to exercise concat
        got = list(_sessionize(gap_ms, terminal)((7,), [pdf.iloc[:90], pdf.iloc[90:]], state))
        got_rows = [
            (
                round(r.session_start.timestamp() * 1000),
                round(r.session_end.timestamp() * 1000),
                r.n_events,
                round(r.total_value, 9),
                r.closed_by,
            )
            for r in pd.concat(got).itertuples()
        ]
        exp_rows = [(s, l, n, round(tot, 9), why) for s, l, n, tot, why in exp_out]
        assert got_rows == exp_rows
        if exp_state is None:
            assert not state.exists
        else:
            s, l, n, tot = state.get
            assert (s, l, n, round(tot, 9)) == (
                exp_state[0], exp_state[1], exp_state[2], round(exp_state[3], 9)
            )
            assert state.timeout == exp_state[1] + gap_ms


def test_terminal_event_splits_sessions(spark, events_path):
    ev = load_table(spark, SF, "events")
    etype = ev.groupBy("event_type").count().orderBy(F.desc("count")).first()[0]
    stream = read_events_stream(spark, events_path)
    out = run_available_now(
        sessionize_stream(stream, terminal_event=etype),
        "t_sessions_term",
        output_mode="append",
    ).cache()
    by = {r["closed_by"]: r["count"] for r in out.groupBy("closed_by").count().collect()}
    assert by.get("terminal", 0) > 0
    # terminal sessions end ON a terminal event; total event coverage holds
    plain = run_available_now(
        sessionize_stream(read_events_stream(spark, events_path)),
        "t_sessions_plain",
        output_mode="append",
    )
    assert out.agg(F.sum("n_events")).first()[0] >= plain.agg(F.sum("n_events")).first()[0]


def test_out_of_order_later_batch_does_not_regress_session_envelope():
    """Round-8 review: an above-watermark event arriving in a LATER
    micro-batch with an EARLIER ts must extend the carried session's
    envelope via min/max, not overwrite start/last with the batch's own
    extremes — a regressed last both mis-reports session_end and sets an
    event-time timeout below the watermark (a state-store error)."""
    import pandas as pd

    from woe_monotonic_binning_spark.streaming.stateful import _sessionize

    gap_ms = 30 * 60 * 1000
    fn = _sessionize(gap_ms, "logout")
    st = _FakeState()

    def run_batch(specs):
        pdf = pd.DataFrame(
            {
                "user_id": [1] * len(specs),
                "ts": pd.to_datetime([t for t, _, _ in specs]),
                "value": [v for _, v, _ in specs],
                "event_type": [e for _, _, e in specs],
            }
        )
        return pd.concat(list(fn((1,), iter([pdf]), st)), ignore_index=True)

    def ms(t):
        return int(pd.Timestamp(t).value // 1_000_000)

    run_batch([("2024-01-01 10:00:00", 1.0, "click")])
    start0, last0, n0, tot0 = st.get
    assert (start0, last0, n0, tot0) == (ms("2024-01-01 10:00:00"),) * 2 + (1, 1.0)

    # late (but above-watermark) event lands in the NEXT batch
    run_batch([("2024-01-01 09:50:00", 2.0, "click")])
    start1, last1, n1, tot1 = st.get
    assert last1 == last0, "session_end regressed on an out-of-order event"
    assert start1 == ms("2024-01-01 09:50:00")  # start extended backward
    assert (n1, tot1) == (2, 3.0)
    assert st.timeout == last0 + gap_ms  # timeout basis did not regress

    # terminal in a third batch, also before the carried last: the emitted
    # envelope is [min start, max last]
    out = run_batch([("2024-01-01 09:55:00", 4.0, "logout")])
    assert len(out) == 1
    row = out.iloc[0]
    assert row["session_start"] == pd.Timestamp("2024-01-01 09:50:00")
    assert row["session_end"] == pd.Timestamp("2024-01-01 10:00:00")
    assert row["n_events"] == 3 and row["total_value"] == 7.0
    assert not st.exists


def test_calendar_interval_rejected(spark):
    """Round-8 review: '1 month' silently resolved to January-anchored 31
    days; calendar units must raise."""
    from woe_monotonic_binning_spark.streaming.stateful import _interval_ms

    for bad in ("1 month", "2 years", "1 YEAR 3 days"):
        with pytest.raises(ValueError, match="calendar"):
            _interval_ms(spark, bad)
    assert _interval_ms(spark, "90 minutes") == 90 * 60 * 1000
