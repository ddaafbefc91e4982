"""Ordered first-touch funnel over an event stream.

Reference parity: the conversion gate is the same shape as the
reference's condition chain — "did the required stages happen, in
order?" (`/root/reference/condition.py:8-95`) — lifted from per-frame
detections to per-user event sequences.

The decomposition is chosen for streamability: per-user per-stage MIN
timestamps are a pure commutative/associative fold (mergeable across
partitions, epochs, and out-of-order arrival), and the ordering
comparisons apply at REPORT time only. Stream and batch therefore agree
exactly — there is no prefix-consistency caveat like the boilerplate
filter's, because no emission decision is ever made early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FUNNEL_STAGES = ("signup", "view", "purchase")


def funnel_stage_mins(events: DataFrame) -> DataFrame:
    """Per-user earliest timestamp per funnel stage — ONE user_id hash
    aggregate over the event log (no self-joins; the naive three-way
    stage self-join would shuffle the fact three times)."""
    return events.groupBy("user_id").agg(
        *[
            F.min(
                F.when(F.col("event_type") == stage, F.col("ts"))
            ).alias(f"t_{stage}")
            for stage in FUNNEL_STAGES
        ]
    )


def funnel_outcomes(
    stage_mins: DataFrame, attribution_window_s: int | None = None
) -> DataFrame:
    """Per-user ordering decisions over the folded state: a later stage
    counts only when it strictly follows the user's earliest
    prior-stage event (first-touch attribution). With
    ``attribution_window_s`` set, stages additionally must land within
    that many seconds of the signup — the bounded-attribution rule that
    makes per-user state FINALIZABLE in the streaming fold."""
    in_window = (
        F.lit(True)
        if attribution_window_s is None
        else (
            F.col("t_view")
            <= F.col("t_signup")
            + F.make_interval(secs=F.lit(attribution_window_s))
        )
    )
    in_window_p = (
        F.lit(True)
        if attribution_window_s is None
        else (
            F.col("t_purchase")
            <= F.col("t_signup")
            + F.make_interval(secs=F.lit(attribution_window_s))
        )
    )
    return stage_mins.select(
        "t_signup",
        F.when(
            (F.col("t_view") > F.col("t_signup")) & in_window,
            F.col("t_view"),
        ).alias("t_view_ok"),
        F.when(
            (F.col("t_purchase") > F.col("t_view"))
            & (F.col("t_view") > F.col("t_signup"))
            & in_window
            & in_window_p,
            F.col("t_purchase"),
        ).alias("t_purchase_ok"),
    )


def funnel_report(
    stage_mins: DataFrame, attribution_window_s: int | None = None
) -> DataFrame:
    """Counting over :func:`funnel_outcomes`."""
    ordered = funnel_outcomes(stage_mins, attribution_window_s)
    return ordered.agg(
        F.count("t_signup").cast("bigint").alias("n_signup"),
        F.count("t_view_ok").cast("bigint").alias("n_signup_view"),
        F.count("t_purchase_ok")
        .cast("bigint")
        .alias("n_signup_view_purchase"),
        # try_divide: an empty stage yields NULL, not an ANSI error — the
        # streaming fold hits this on epochs before the first signup
        F.round(
            F.try_divide(F.count("t_view_ok"), F.count("t_signup")), 6
        ).alias("conv_view"),
        F.round(
            F.try_divide(F.count("t_purchase_ok"), F.count("t_view_ok")), 6
        ).alias("conv_purchase"),
    )
