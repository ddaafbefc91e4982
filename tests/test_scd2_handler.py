"""Spark-free checks of the streaming SCD2 per-user handler.

``make_scd2_handler`` is driven directly with a stand-in ``GroupState``
(the attributes ``applyInPandasWithState`` hands it), so ordering,
change-point collapse, late counting, state removal and the timeout clock
are pinned without a micro-batch in between.
"""

from __future__ import annotations

import random

import pandas as pd

from data_harvesting_spark.streaming.scd2 import (
    SCD2_OUTPUT_SCHEMA,
    SCD2_STATE_SCHEMA,
    make_scd2_handler,
)

BASE = pd.Timestamp("2026-06-01 00:00:00")
BASE_MS = BASE.value // 1_000_000


class FakeState:
    """The part of ``GroupState`` the handler uses, recording its calls."""

    def __init__(self, value=None, watermark_ms=0, timed_out=False):
        self.value = value
        self.watermark_ms = watermark_ms
        self.timed_out = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    @property
    def hasTimedOut(self):
        return self.timed_out

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def update(self, value):
        self.value = value

    def remove(self):
        self.removed = True
        self.value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


class Counter:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def events(*rows):
    """(event_id, seconds after BASE, event_type) rows as a handler input."""
    return pd.DataFrame(
        {
            "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "ts": pd.Series(
                [BASE + pd.Timedelta(seconds=r[1]) for r in rows],
                dtype="datetime64[ns]",
            ),
            "event_type": pd.Series([r[2] for r in rows], dtype=object),
        }
    )


def us(secs):
    return (BASE_MS + secs * 1000) * 1000


def wm(secs):
    return BASE_MS + secs * 1000


def call(handler, state, *pdfs, user_id=7):
    out = list(handler((user_id,), iter(pdfs), state))
    if not out:
        return []
    assert len(out) == 1
    assert list(out[0].columns) == SCD2_OUTPUT_SCHEMA.names
    return [tuple(r) for r in out[0].itertuples(index=False)]


def test_schemas_are_the_checkpointed_ones():
    """State and output layouts are part of every existing checkpoint."""
    assert SCD2_STATE_SCHEMA.simpleString() == (
        "struct<open_state:array<string>,open_from_us:array<bigint>,"
        "open_version:array<bigint>,b_ts_us:array<bigint>,"
        "b_event_id:array<bigint>,b_type:array<string>>"
    )
    assert SCD2_OUTPUT_SCHEMA.simpleString() == (
        "struct<user_id:bigint,version:bigint,state:string,"
        "valid_from_us:bigint,valid_to_us:bigint>"
    )


def test_equal_ts_ties_ordered_by_event_id():
    """Rows at one ts fold in event_id order, whatever the arrival order:
    X(5) opens, Y(6) closes it, X(7) closes Y."""
    h = make_scd2_handler()
    st = FakeState(watermark_ms=wm(0))
    assert call(h, st, events((7, 10, "X"), (6, 10, "Y"), (5, 10, "X"))) == []
    st.watermark_ms, st.timed_out = wm(100), True
    got = call(h, st)
    assert got == [(7, 1, "X", us(10), us(10)), (7, 2, "Y", us(10), us(10))]
    assert st.value == (["X"], [us(10)], [3], [], [], [])


def test_change_points_collapse_against_carried_open_version():
    """Rows are buffered until the watermark passes them. An equal state
    extends the carried open version; only a different state closes it,
    with the version counter carried from call to call."""
    h = make_scd2_handler()
    st = FakeState(watermark_ms=wm(0))
    assert call(h, st, events((1, 0, "A"), (2, 20, "A"), (3, 60, "B"))) == []
    st.watermark_ms = wm(50)
    assert call(h, st, events((4, 70, "B"), (5, 90, "A"))) == []
    # A at 0 s and 20 s collapse into version 1; 60 s onward stays buffered
    assert st.value == (
        ["A"], [us(0)], [1], [us(60), us(70), us(90)], [3, 4, 5],
        ["B", "B", "A"],
    )

    st.watermark_ms, st.timed_out = wm(200), True
    got = call(h, st)
    assert got == [(7, 1, "A", us(0), us(60)), (7, 2, "B", us(60), us(90))]
    assert st.value == (["A"], [us(90)], [3], [], [], [])

    # the same state again emits nothing and keeps version 3
    st.timed_out = False
    assert call(h, st, events((6, 250, "A"))) == []
    st.watermark_ms, st.timed_out = wm(300), True
    assert call(h, st) == []
    assert st.value == (["A"], [us(90)], [3], [], [], [])


def test_late_rows_counted_and_dropped():
    late = Counter()
    h = make_scd2_handler(late)
    st = FakeState(watermark_ms=wm(100))
    call(h, st, events((1, 50, "A"), (2, 99, "B"), (3, 100, "C")),
         events((4, 120, "D")))
    assert late.value == 2
    # only the two rows at or after the watermark are buffered
    assert st.value == ([], [], [], [us(100), us(120)], [3, 4], ["C", "D"])


def test_state_removed_when_nothing_open_or_buffered():
    late = Counter()
    h = make_scd2_handler(late)
    st = FakeState(
        value=([], [], [], [], [], []), watermark_ms=wm(100)
    )
    assert call(h, st, events((1, 10, "A"))) == []
    assert st.removed and st.value is None
    assert late.value == 1


def test_timeout_rearmed_at_min_buffer_ts_or_watermark():
    h = make_scd2_handler()
    # buffered rows ahead of the watermark: the clock is the earliest one
    st = FakeState(watermark_ms=wm(10))
    call(h, st, events((1, 40, "A"), (2, 30, "B")))
    assert st.timeout_ms == wm(30) + 1

    # a timed-out call consumes no input; the watermark now passes 30 s
    # but not 40 s, so "B" opens and "A" stays buffered: re-armed at 40 s
    st.timed_out, st.watermark_ms = True, wm(35)
    assert call(h, st) == []
    assert st.value == (["B"], [us(30)], [1], [us(40)], [1], ["A"])
    assert st.timeout_ms == wm(40) + 1

    # a new buffered row earlier than the others moves the clock back
    st.timed_out, st.watermark_ms = False, wm(35)
    call(h, st, events((3, 38, "A")))
    assert st.timeout_ms == wm(38) + 1

    # nothing left buffered: no new timeout is set
    st.timeout_ms, st.watermark_ms, st.timed_out = None, wm(100), True
    assert call(h, st) == [(7, 1, "B", us(30), us(38))]
    assert st.value == (["A"], [us(38)], [2], [], [], [])
    assert st.timeout_ms is None


def reference_fold(calls):
    """Plain-Python SCD2 fold over (watermark_ms, rows, timed_out) calls,
    rows as (event_id, seconds, event_type): closed rows per call, then
    the final open version, buffer and late count."""
    open_row, buf, late, closed_per_call = None, [], 0, []
    for watermark_ms, rows, timed_out in calls:
        wm_us = watermark_ms * 1000
        if not timed_out:
            for eid, secs, etype in rows:
                if us(secs) < wm_us:
                    late += 1
                else:
                    buf.append((us(secs), eid, etype))
        closed = []
        if watermark_ms > 0:
            for ts_us, _eid, etype in sorted(r for r in buf if r[0] < wm_us):
                if open_row is None:
                    open_row = (etype, ts_us, 1)
                elif etype != open_row[0]:
                    closed.append(
                        (7, open_row[2], open_row[0], open_row[1], ts_us)
                    )
                    open_row = (etype, ts_us, open_row[2] + 1)
            buf = [r for r in buf if r[0] >= wm_us]
        closed_per_call.append(closed)
    return closed_per_call, open_row, buf, late


def test_handler_equals_reference_fold_on_random_calls():
    rng = random.Random(5)
    for _ in range(300):
        calls, secs_wm, eid = [], 0, 0
        for _ in range(rng.randint(1, 6)):
            timed_out = rng.random() < 0.2
            rows = []
            for _ in range(0 if timed_out else rng.randint(1, 6)):
                eid += 1
                rows.append((eid, rng.randint(max(0, secs_wm - 20),
                                              secs_wm + 40),
                             rng.choice("AB")))
            calls.append((wm(secs_wm), rows, timed_out))
            secs_wm += rng.randint(0, 30)
        want_closed, want_open, want_buf, want_late = reference_fold(calls)

        late = Counter()
        h = make_scd2_handler(late)
        st = FakeState()
        for (watermark_ms, rows, timed_out), want in zip(calls, want_closed):
            st.watermark_ms, st.timed_out = watermark_ms, timed_out
            split = rng.randint(0, len(rows))  # several frames per call
            pdfs = [events(*rows[:split]), events(*rows[split:])]
            assert call(h, st, *([] if timed_out else pdfs)) == want
        assert late.value == want_late
        if want_open is None and not want_buf:
            assert st.value is None
            continue
        assert st.value == (
            [want_open[0]] if want_open else [],
            [want_open[1]] if want_open else [],
            [want_open[2]] if want_open else [],
            [r[0] for r in want_buf],
            [r[1] for r in want_buf],
            [r[2] for r in want_buf],
        )
