"""Left-outer watermarked stream-stream interval join
(`start_unmatched_errors_stream_job`): the absence / dead-letter
completion of the inner followups job. Pins (a) matched-pair parity with
the batch range_join, (b) null-padded emission of unresolved errors once
the watermark proves absence, (c) the watermark-holdback contract for
errors whose horizon never closes, and (d) checkpoint kill-resume
exactly-once.
"""

from __future__ import annotations

import os as _os
import time as _time

import pandas as pd
import pytest
from pyspark.sql import functions as F

WINDOW_US = 30 * 60 * 1_000_000


@pytest.fixture(scope="module")
def outer_batches(tmp_path_factory):
    """Micro-batches designed so that, under a 0-second watermark delay:
    - error 1 (u1, t=0) has follow-ups (resolved; epoch-0→2 pair forces
      cross-epoch JVM state),
    - error 3 (u2, t=0) has a follow-up OUTSIDE the 30-min window
      (unresolved — the window edge matters),
    - error 8 (u3, t=200) has only a PRECEDING same-user event
      (unresolved — direction matters),
    - error 9 (u4, t=86400+100) sits inside the final watermark horizon
      (the sentinel at +1 day does NOT prove its absence) → must stay
      buffered, NOT emitted (the documented holdback),
    - event 99 (u5, t=+1 day) is the watermark-advancing sentinel that
      closes every other error's horizon.
    """
    from tests.test_streaming import write_parquet_us

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, val, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, val, "{}")

    files = [
        [ev(1, 1, "error", 0.0, 0), ev(2, 1, "click", 1.0, 60),
         ev(3, 2, "error", 0.0, 0)],
        [ev(4, 1, "view", 2.0, 600), ev(5, 2, "click", 9.0, 3600)],
        [ev(6, 1, "click", 3.0, 1700), ev(7, 3, "click", 5.0, 100),
         ev(8, 3, "error", 0.0, 200)],
        [ev(9, 4, "error", 0.0, 86400 + 100),
         ev(99, 5, "click", 0.0, 86400)],
    ]
    d = tmp_path_factory.mktemp("outer_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        _os.utime(p, (now + i, now + i))
    return str(d)


def _batch_truth(spark, source_dir):
    """(matched pair set, unresolved error-id set) from the batch
    operators over the full input."""
    from data_harvesting_spark.operators.temporal import range_join

    ev = spark.read.parquet(source_dir + "/*.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    pairs = {
        (r.l_event_id, r.r_event_id)
        for r in range_join(
            errors, ev.select("user_id", "ts", "event_id", "value"),
            on=["user_id"], lower_us=0, upper_us=WINDOW_US,
        ).select("l_event_id", "r_event_id").collect()
    }
    matched_ids = {left for left, _ in pairs}
    unresolved = {
        r.event_id for r in errors.collect() if r.event_id not in matched_ids
    }
    return pairs, unresolved


def test_outer_join_stream_matched_and_absence_rows(
    spark, outer_batches, tmp_path
):
    """Matched rows equal the batch range_join pair set; unresolved
    errors surface as null-padded rows exactly when the watermark proves
    absence — and ONLY then (error 9, inside the final horizon, is held
    back even though the batch twin reports it unresolved)."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_unmatched_errors_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "osink")
    q = start_unmatched_errors_stream_job(
        spark, outer_batches, sink, str(tmp_path / "ockpt"),
        available_now=False, watermark="0 seconds",
    )
    drain(q)
    rows = read_epoch_sink(spark, sink).collect()
    got_pairs = {
        (r.l_event_id, r.r_event_id) for r in rows if r.r_event_id is not None
    }
    got_unresolved = {r.l_event_id for r in rows if r.r_event_id is None}

    want_pairs, want_unresolved = _batch_truth(spark, outer_batches)
    assert got_pairs == want_pairs
    # fixture design points actually hold
    assert (1, 2) in want_pairs and (1, 4) in want_pairs
    assert (1, 6) in want_pairs          # cross-epoch pair
    assert (3, 5) not in want_pairs      # outside the window
    assert (8, 7) not in want_pairs      # follow-up precedes the error
    # error 9's horizon never closes under the final watermark: the
    # stream may not claim absence yet — documented holdback
    assert 9 in want_unresolved
    assert got_unresolved == want_unresolved - {9}
    assert got_unresolved == {3, 8}
    # null-padding is complete on absence rows
    for r in rows:
        if r.r_event_id is None:
            assert r.r_ts is None and r.r_value is None


def test_outer_join_stream_kill_and_resume(spark, outer_batches, tmp_path):
    """W7 on the outer join: stop after the first micro-batch, resume
    from checkpoint — identical final row multiset, no duplicate pairs,
    no duplicate absence rows (JVM join state + watermark restore)."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_unmatched_errors_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    sink = str(tmp_path / "osink")
    ckpt = str(tmp_path / "ockpt")
    q = start_unmatched_errors_stream_job(
        spark, outer_batches, sink, ckpt,
        available_now=False, watermark="0 seconds",
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any((p.get("numInputRows") or 0) > 0 for p in q.recentProgress):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_unmatched_errors_stream_job(
        spark, outer_batches, sink, ckpt,
        available_now=False, watermark="0 seconds",
    )
    drain(q2)
    rows = read_epoch_sink(spark, sink).collect()
    keyed = [(r.l_event_id, r.r_event_id) for r in rows]
    assert len(keyed) == len(set(keyed))  # exactly-once, incl. null rows
    want_pairs, want_unresolved = _batch_truth(spark, outer_batches)
    assert {k for k in keyed if k[1] is not None} == want_pairs
    assert {k[0] for k in keyed if k[1] is None} == want_unresolved - {9}


def test_events_unresolved_errors_matches_stream_semantics(spark):
    """The batch anti twin agrees with a brute NOT-EXISTS recompute at
    sf0.001, and its id set is exactly {errors} minus the inner range
    join's left ids — the composition the plan uses."""
    from tests.conftest import SF_SMOKE

    from data_harvesting_spark.plans.catalog import spark_queries

    df = spark_queries()["events_unresolved_errors"](spark, SF_SMOKE)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.ts)
    want = set()
    for r in ev:
        if r.event_type != "error":
            continue
        lo = r.ts
        import datetime as dt

        hi = r.ts + dt.timedelta(minutes=30)
        if not any(lo < t <= hi for t in by_user[r.user_id]):
            want.add(r.event_id)
    got = {r.event_id for r in df.collect()}
    assert got == want
    assert got
