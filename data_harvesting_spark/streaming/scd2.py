"""Streaming SCD Type-2 dimension maintenance — the batch
``scd2_user_state`` catalog query as a continuous CDC-style stream.

Contract: the stream emits every CLOSED version row (valid_to set) of
the per-user dimension history, each the moment its closing event
passes the watermark; the OPEN (current) version per user lives in
keyed state — that state is the dimension's current table, bounded by
the ENTITY count (users), not the stream length, which is the SCD2 data
model itself. The emitted closed-version set equals the batch query's
``is_current = false`` rows EXACTLY (parity test), because finalization
is strictly event-time ordered:

- rows are buffered per user until the watermark passes their ts, so no
  earlier event can still arrive when a row is folded into the history;
- ties at identical ts order by event_id (the batch total order), and a
  tie group can never split across watermark flushes (equal ts are all
  on the same side of any watermark cut);
- change-point collapse (consecutive equal states merge) happens on the
  finalized prefix only, against the carried open version.

Late rows beyond the watermark are dropped and counted (W2/W6) — on
Spark >= 4.1 the engine pre-filters them into
``numRowsDroppedByWatermark``; the handler's accumulator covers engines
that hand them through.

The handler works on numpy arrays, not per-key pandas frames (about
20 rows per key make frame building, concat and sort the dominant cost).
``SCD2_STATE_SCHEMA`` and ``SCD2_OUTPUT_SCHEMA`` are the ones the earlier
pandas handler used, field for field, so existing checkpoints resume.

Exactly-once: deterministic handler + checkpoint-versioned state +
idempotent epoch sink (W7, kill-resume test).

Reference parity: the reference mutates one in-memory "current state"
per tracked object (`/root/reference/services/harvest_service.py:198-232`);
SCD2 maintenance is that mutation with every supersession preserved as
an immutable versioned interval.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCD2_STATE_SCHEMA = StructType(
    [
        # open (current) version — empty arrays when no version yet
        StructField("open_state", ArrayType(StringType()), True),
        StructField("open_from_us", ArrayType(LongType()), True),
        StructField("open_version", ArrayType(LongType()), True),
        # buffered not-yet-final events
        StructField("b_ts_us", ArrayType(LongType()), True),
        StructField("b_event_id", ArrayType(LongType()), True),
        StructField("b_type", ArrayType(StringType()), True),
    ]
)

SCD2_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("version", LongType(), True),
        StructField("state", StringType(), True),
        StructField("valid_from_us", LongType(), True),
        StructField("valid_to_us", LongType(), True),
    ]
)


def _column(pdfs: list[pd.DataFrame], name: str, dtype) -> np.ndarray:
    return np.concatenate([pdf[name].to_numpy(dtype) for pdf in pdfs])


def make_scd2_handler(late_counter=None):
    """Per-user handler on numpy arrays: the buffer is three parallel
    arrays (ts_us, event_id, event_type), and a DataFrame is built only
    when versions close."""

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]

        if state.exists:
            (os_, of_, ov_, bts, bid, bty) = state.get
            open_row = (
                (os_[0], of_[0], ov_[0]) if len(os_) else None
            )
        else:
            open_row, bts, bid, bty = None, [], [], []
        ts = np.asarray(bts, dtype=np.int64)
        eid = np.asarray(bid, dtype=np.int64)
        ety = np.asarray(bty, dtype=object)

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000

        if not state.hasTimedOut:
            new = [pdf for pdf in pdfs if len(pdf)]
            if new:
                new_ts = _column(new, "ts", "datetime64[us]").view(np.int64)
                keep = new_ts >= wm_us
                n_late = len(keep) - int(keep.sum())
                if n_late and late_counter is not None:
                    late_counter.add(n_late)
                ts = np.concatenate([ts, new_ts[keep]])
                eid = np.concatenate(
                    [eid, _column(new, "event_id", np.int64)[keep]]
                )
                ety = np.concatenate(
                    [ety, _column(new, "event_type", object)[keep]]
                )

        # finalize strictly-before-watermark rows in batch total order
        final_ts, final_ty = [], []
        if wm_ms > 0 and len(ts):
            done = ts < wm_us
            order = np.lexsort((eid[done], ts[done]))
            final_ts = ts[done][order].tolist()
            final_ty = ety[done][order].tolist()
            ts, eid, ety = ts[~done], eid[~done], ety[~done]

        closed = []
        for ts_us, etype in zip(final_ts, final_ty):
            if open_row is None:
                open_row = (etype, ts_us, 1)
            elif etype != open_row[0]:
                closed.append(
                    (user_id, open_row[2], open_row[0], open_row[1], ts_us)
                )
                open_row = (etype, ts_us, open_row[2] + 1)
        if closed:
            yield pd.DataFrame(closed, columns=SCD2_OUTPUT_SCHEMA.names)

        if open_row is None and len(ts) == 0:
            state.remove()
            return
        state.update(
            (
                [open_row[0]] if open_row else [],
                [open_row[1]] if open_row else [],
                [open_row[2]] if open_row else [],
                ts.tolist(),
                eid.tolist(),
                ety.tolist(),
            )
        )
        if len(ts):
            # re-arm so the next watermark advance flushes finalizable
            # rows even if this user receives no further input
            state.setTimeoutTimestamp(
                max(int(ts.min()) // 1000, wm_ms) + 1
            )

    return handler


def scd2_stream(
    event_stream: DataFrame, watermark_delay: str, late_counter=None
) -> DataFrame:
    """Wire the SCD2 handler onto a watermarked event stream."""
    return (
        event_stream.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_scd2_handler(late_counter),
            outputStructType=SCD2_OUTPUT_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
