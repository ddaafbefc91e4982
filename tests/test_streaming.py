"""Streaming semantics: batch/stream parity, exactly-once, kill-resume."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from data_harvesting_spark.config import HarvestConfig
from data_harvesting_spark.generator import (
    generate_transcripts,
    write_batches,
    write_parquet_us,
)

CANON = ["conv_id", "window_start", "example_idx"]


def _cfg(tmp: str, **kw) -> HarvestConfig:
    defaults = dict(
        session_gap="30 minutes",
        watermark_delay="10 minutes",
        sink_format="epoch",
        sink_path=os.path.join(tmp, "curated"),
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    )
    defaults.update(kw)
    return HarvestConfig(**defaults)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(CANON)
        .reset_index(drop=True)
        .reindex(sorted(pdf.columns), axis=1)
    )


@pytest.fixture(scope="module")
def fixture_batches(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    paths = write_batches(str(d), n_convs=40, seed=7, n_batches=6)
    # flush slice: one far-future dummy row pushes the watermark past every
    # session gap so buffered sessions close deterministically
    df = generate_transcripts(n_convs=40, seed=7)
    flush = df.iloc[:1].copy()
    flush["conv_id"] = "conv-flush"
    flush["ts"] = df["ts"].max() + pd.Timedelta(hours=6)
    flush["role"] = "user"
    # non-null tool: a watermark-driving row must survive scan-level
    # predicate pushdown — an all-null `tool` file is skipped entirely by
    # the rates job's IsNotNull(tool) row-group filter, so its event time
    # would never reach the watermark operator and the last windows would
    # never close (see start_rates_job docstring)
    flush["tool"] = "flush"
    p = os.path.join(str(d), "zz-flush.parquet")
    write_parquet_us(flush, p)
    return str(d)


def _force_arrival_order(src) -> None:
    """The file source replays files in modification-time order: make it
    the file-name order, one second apart."""
    import time as _time

    now = _time.time()
    for i, p in enumerate(sorted(src.glob("*.parquet"))):
        os.utime(p, (now + i, now + i))


def _batch_reference(spark, source_dir: str, cfg: HarvestConfig) -> pd.DataFrame:
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    out = curate_sessions(t, cfg).toPandas()
    return out[out["conv_id"] != "conv-flush"]


def test_stream_equals_batch(spark, fixture_batches, tmp_path):
    """north_star: streaming output == batch output on the same input."""
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path))
    got = run_sessionized_stream_to_completion(
        spark, fixture_batches, cfg
    ).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _batch_reference(spark, fixture_batches, cfg)
    pd.testing.assert_frame_equal(_canon(got), _canon(want))
    assert len(got) > 0


def test_kill_and_resume_exactly_once(spark, fixture_batches, tmp_path):
    """Process N batches, stop, resume from checkpoint: final output set
    identical to the uninterrupted run (W7)."""
    from data_harvesting_spark.streaming.pipeline import (
        start_curate_job_session_window,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))

    # phase 1: stop after ~half the files
    q = start_curate_job_session_window(
        spark, fixture_batches, cfg, available_now=False
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        prog = q.recentProgress
        done = sum(p["numInputRows"] > 0 for p in prog)
        if done >= 3:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    # phase 2: resume from the same checkpoint, drain everything
    from data_harvesting_spark.streaming.pipeline import drain

    q2 = start_curate_job_session_window(
        spark, fixture_batches, cfg, available_now=False
    )
    drain(q2)

    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _batch_reference(spark, fixture_batches, cfg)
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_late_beyond_watermark_dropped(spark, tmp_path):
    """A call+response pair arriving beyond the watermark is dropped
    (W2/W6): it neither forms a second session nor duplicates the
    response. The pair arrives two files after the watermark passed it —
    the session-window operator filters late rows against the previous
    micro-batch's watermark (see test_late_drop_counted_in_metrics)."""
    import numpy as np

    src = tmp_path / "late_src"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4,
            "turn_idx": np.array([0, 1, 2, 3], dtype="int32"),
            "role": ["user", "assistant", "tool", "assistant"],
            "text": ["q", "call search x", "result y", "done"],
            "tool": [None, "search", "search", None],
            "ts": [base, base + pd.Timedelta(seconds=10),
                   base + pd.Timedelta(seconds=20),
                   base + pd.Timedelta(seconds=30)],
        }
    )
    write_parquet_us(rows, str(src / "b0.parquet"))
    # b1: in-order heartbeat, so b2 is filtered against a watermark that
    # has already passed the late pair
    hb = pd.DataFrame(
        {
            "conv_id": ["hb"],
            "turn_idx": np.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["beat"],
            "tool": [None],
            "ts": [base + pd.Timedelta(minutes=1)],
        }
    )
    write_parquet_us(hb, str(src / "b1.parquet"))
    # b2: a curate-able pair with duplicate texts arriving very late
    # (event time far before the watermark) — must NOT resurrect; and a
    # flush row
    late = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "flush"],
            "turn_idx": np.array([4, 5, 0], dtype="int32"),
            "role": ["assistant", "tool", "user"],
            "text": ["call search x", "result y", "z"],
            "tool": ["search", "search", None],
            "ts": [base - pd.Timedelta(hours=5),
                   base - pd.Timedelta(hours=5) + pd.Timedelta(seconds=10),
                   base + pd.Timedelta(hours=12)],
        }
    )
    write_parquet_us(late, str(src / "b2.parquet"))
    _force_arrival_order(src)

    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path), watermark_delay="10 minutes")
    out = run_sessionized_stream_to_completion(spark, str(src), cfg).toPandas()
    out = out[out["conv_id"] == "c1"]
    # exactly one curated pair; the late far-past pair was dropped, so it
    # neither formed a second session nor duplicated the response
    assert len(out) == 1
    assert out.iloc[0]["call_turn_idx"] == 1
    assert out.iloc[0]["response_turn_idx"] == 2


def test_metrics_and_lineage(spark, fixture_batches, tmp_path):
    """ProgressLogger captures per-batch metrics; epoch sink records
    per-partition file lineage."""
    import json

    from data_harvesting_spark.streaming.metrics import attach_progress_logger
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    metrics_path = str(tmp_path / "metrics.jsonl")
    listener = attach_progress_logger(spark, metrics_path)
    try:
        cfg = _cfg(str(tmp_path))
        run_sessionized_stream_to_completion(spark, fixture_batches, cfg)
    finally:
        spark.streams.removeListener(listener)

    lines = [json.loads(l) for l in open(metrics_path)]
    progress = [l for l in lines if l["event"] == "progress"]
    assert len(progress) >= 6  # one per input slice at least
    assert any(p["numInputRows"] > 0 for p in progress)
    assert any(p["watermark"] for p in progress)

    lineage = [
        json.loads(l) for l in open(os.path.join(cfg.sink_path, "_lineage.jsonl"))
    ]
    assert {l["epoch_id"] for l in lineage} >= {0, 1, 2}
    assert any(l["n_files"] > 0 for l in lineage)


def test_rates_stream_equals_batch(spark, fixture_batches, tmp_path):
    """W4: the windowed harvest-rate stream (watermark-closed append
    windows) emits exactly the batch groupBy(window, tool) aggregate once
    input is exhausted and all windows have closed."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import drain, start_rates_job
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    sink = str(tmp_path / "rates")
    ckpt = str(tmp_path / "rates_ckpt")
    q = start_rates_job(
        spark, fixture_batches, cfg, sink, ckpt, window="1 hour",
        available_now=False,
    )
    drain(q)
    got = read_epoch_sink(spark, sink).toPandas()

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    want = (
        t.where(F.col("tool").isNotNull())
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("tool").alias("key"))
        .agg(
            F.count("*").alias("turn_count"),
            F.approx_count_distinct("conv_id").alias("conv_distinct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.lit("tool").alias("grain"),
            "key", "turn_count", "conv_distinct",
        )
        .toPandas()
    )
    # the flush heartbeat's own window can never close (nothing later
    # advances the watermark past it) — excluded on both sides
    got = got[got["key"] != "flush"]
    want = want[want["key"] != "flush"]
    key = ["window_start", "key"]
    cols = sorted(want.columns)
    got = got[cols].sort_values(key).reset_index(drop=True)
    want = want[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0

    # role grain: same job keyed on role (no tool filter — every turn
    # attributes); the flush heartbeat's never-closing window excluded on
    # both sides via its conversation
    q2 = start_rates_job(
        spark, fixture_batches, cfg, str(tmp_path / "rates_role"),
        str(tmp_path / "rates_role_ckpt"), window="1 hour",
        available_now=False, grain="role",
    )
    drain(q2)
    got_r = read_epoch_sink(spark, str(tmp_path / "rates_role")).toPandas()
    want_r = (
        t.where(F.col("conv_id") != "conv-flush")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("role").alias("key"))
        .agg(
            F.count("*").alias("turn_count"),
            F.approx_count_distinct("conv_id").alias("conv_distinct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.lit("role").alias("grain"),
            "key", "turn_count", "conv_distinct",
        )
        .toPandas()
    )
    got_r = got_r[cols].sort_values(key).reset_index(drop=True)
    want_r = want_r[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_r, want_r)
    assert set(got_r["key"]) >= {"user", "assistant", "tool"}


def test_latency_quantiles_stream_equals_batch(spark, fixture_batches, tmp_path):
    """A8 in the streaming surface: the stateful stream-stream adjacent-
    turn join + windowed percentile_approx emits exactly the batch result
    of the same expressions once all windows close."""
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        latency_pairs,
        latency_quantiles_windowed,
        start_latency_quantiles_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    sink = str(tmp_path / "latq")
    ckpt = str(tmp_path / "latq_ckpt")
    q = start_latency_quantiles_job(
        spark, fixture_batches, cfg, sink, ckpt, window="1 hour",
        available_now=False,
    )
    drain(q)
    got = read_epoch_sink(spark, sink).toPandas()

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    want = latency_quantiles_windowed(
        latency_pairs(t, cfg.watermark_delay), "1 hour"
    ).toPandas()
    got = got[got["key"] != "flush"]
    want = want[want["key"] != "flush"]
    key = ["window_start", "key"]
    cols = sorted(want.columns)
    got = got[cols].sort_values(key).reset_index(drop=True)
    want = want[cols].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def test_suppression_parity_across_runners(spark, fixture_batches, tmp_path):
    """With suppression on, the declarative keyed pipeline and the pandas
    kernel agree (P10 is the one genuinely sequential operator)."""
    from data_harvesting_spark.operators.curate import curate_keyed
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.operators.sessionize import sessionize
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    cfg = _cfg(str(tmp_path), suppress_turns_after_emit=3)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()

    sess = sessionize(t, gap_seconds=30 * 60).select(
        "conv_id", "window_start", "turn_idx", "role", "text", "tool", "ts"
    )
    got = curate_keyed(sess, cfg).toPandas()
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))
    assert len(got) > 0


def _multisession_frame() -> pd.DataFrame:
    """Multi-session-per-conversation fixture (cap-scope semantics):

    - mc0..mc3: 3 sessions × 3 curate-able pairs, sessions 2 h apart —
      a conversation-scope cap of 4 must bind ACROSS sessions.
    - mc-b: sessions separated by EXACTLY the 30-min gap — pins the
      boundary semantics (JVM session_window MERGES touching windows, so
      an event at exactly last + gap stays in the session) on every path.
    - mc-tiny: a 1-pair session then a 3-pair session (session-scope
      min-gate fixture).
    """
    rows = []
    base = pd.Timestamp("2026-01-01 00:00:00")

    def emit(conv, sess_starts, pairs_per_session, arrival=None):
        idx = 0
        for s, (t0, n_pairs) in enumerate(zip(sess_starts, pairs_per_session)):
            arr = s if arrival is None else arrival[s]
            for p in range(n_pairs):
                t = t0 + pd.Timedelta(seconds=20 * p)
                rows.append((conv, idx, "assistant", f"call {s}-{p} {conv}",
                             "search", t, arr))
                idx += 1
                rows.append((conv, idx, "tool", f"result {s}-{p} {conv}",
                             "search", t + pd.Timedelta(seconds=10), arr))
                idx += 1

    for c in range(4):
        # last event of a 3-pair session is start + 50 s
        starts = [base, base + pd.Timedelta(hours=2),
                  base + pd.Timedelta(hours=4)]
        emit(f"mc{c}", starts, [3, 3, 3])
    # exact-boundary conv: next span starts at last_event + exactly 1800 s.
    # Its spans 1+2 ship in the SAME arrival file (arrival=[0,1,1]): the
    # global watermark is driven by the 2h/4h convs, so a span-2 at ~1h
    # arriving one file later would be (correctly) dropped as
    # beyond-watermark — the fixture must respect the arrival contract the
    # engine documents (W2/W6), or batch and stream legitimately diverge.
    b0 = base
    b1 = b0 + pd.Timedelta(seconds=50 + 1800)
    b2 = b1 + pd.Timedelta(seconds=50 + 1800)
    emit("mc-b", [b0, b1, b2], [3, 3, 3], arrival=[0, 1, 1])
    emit("mc-tiny", [base, base + pd.Timedelta(hours=2)], [1, 3])

    df = pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "sess"],
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


@pytest.fixture(scope="module")
def multisession_batches(tmp_path_factory):
    """One file per session index (+ flush) so sessions of one conversation
    close in DIFFERENT micro-batches — exercises the cross-batch cap
    ledger of the streaming curate job."""
    import time as _time

    d = tmp_path_factory.mktemp("multisession_src")
    df = _multisession_frame()
    now = _time.time()
    for s in range(3):
        p = str(d / f"b{s}.parquet")
        write_parquet_us(
            df[df["sess"] == s].drop(columns="sess"), p
        )
        os.utime(p, (now + s, now + s))  # force file arrival order
    flush = pd.DataFrame(
        {
            "conv_id": ["conv-flush"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"],
            "text": ["flush"],
            "tool": ["flush"],
            "ts": [df["ts"].max() + pd.Timedelta(hours=6)],
        }
    )
    p = str(d / "zz-flush.parquet")
    write_parquet_us(flush, p)
    os.utime(p, (now + 5, now + 5))
    return str(d)


def test_conversation_cap_parity_all_paths(spark, multisession_batches, tmp_path):
    """cap_scope='conversation' (reference semantics: per video = per
    conversation, harvest_service.py:175): a cap of 4 with 9 pairs spread
    over 3 sessions emits exactly 4 per conversation, numbered cumulatively
    across sessions — identically in all three implementations (batch
    kernel, declarative keyed, streaming curate job with cap ledger). Also
    pins the exact-gap boundary (mc-b)."""
    from data_harvesting_spark.operators.curate import curate_keyed
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.operators.sessionize import sessionize
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path), max_pairs_per_conv=4)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]

    # semantics assertions on the reference implementation first
    for conv in ["mc0", "mc1", "mc2", "mc3", "mc-b"]:
        g = want[want["conv_id"] == conv]
        assert len(g) == 4, f"{conv}: cap must bind across sessions"
        assert sorted(g["example_idx"]) == [0, 1, 2, 3]
    for conv in ["mc0", "mc1", "mc2", "mc3"]:
        g = want[want["conv_id"] == conv]
        assert g["window_start"].nunique() >= 2, (
            f"{conv}: budget must span sessions"
        )
    # exact-boundary conv: gap == session_gap MERGES (JVM session_window
    # merges touching windows; batch paths must agree — strict >)
    sess = sessionize(t, gap_seconds=1800)
    nb = (
        sess.where(sess.conv_id == "mc-b")
        .select("window_start")
        .distinct()
        .count()
    )
    assert nb == 1, "gap == session_gap must MERGE (JVM touch-merge)"

    # 1. declarative keyed pipeline
    keyed_in = sess.select(
        "conv_id", "window_start", "turn_idx", "role", "text", "tool", "ts"
    )
    got_keyed = curate_keyed(keyed_in, cfg).toPandas()
    got_keyed = got_keyed[got_keyed["conv_id"] != "conv-flush"]
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]
    pd.testing.assert_frame_equal(_canon(got_keyed[cols]), _canon(want[cols]))

    # 2. streaming curate job (cross-batch cap ledger)
    got = run_sessionized_stream_to_completion(
        spark, multisession_batches, cfg
    ).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))


def test_conversation_suppression_carry_in_stream(spark, multisession_batches, tmp_path):
    """Conversation-scope suppression (P10): the suppression cursor carries
    across session closes in the curate job's cap ledger — output equals
    the batch kernel's single whole-conversation sweep even though the
    sessions close in different micro-batches."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path), suppress_turns_after_emit=2, max_pairs_per_conv=5)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    # suppression with spacing 2 over adjacent-pair fixtures actually
    # suppresses (fewer than the uncapped 9 per conv) — guard the fixture
    assert 0 < len(want[want["conv_id"] == "mc0"]) < 9

    got = run_sessionized_stream_to_completion(
        spark, multisession_batches, cfg
    ).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_ledger_kill_and_resume_with_binding_cap(spark, multisession_batches, tmp_path):
    """W7 × P9: kill-resume the session-window runner while the
    conversation budget is BINDING — the cap ledger's per-epoch snapshots
    must replay to the same budget decisions, so the resumed stream's
    final output equals the uninterrupted batch reference exactly."""
    import time

    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_curate_job_session_window,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path), max_pairs_per_conv=4)
    q = start_curate_job_session_window(
        spark, multisession_batches, cfg, available_now=False
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_curate_job_session_window(
        spark, multisession_batches, cfg, available_now=False
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))
    # budget still binds after resume: exactly 4 per multi-session conv
    assert (got.groupby("conv_id").size().loc[["mc0", "mc1", "mc2", "mc3"]] == 4).all()


def test_min_pairs_session_scope_parity(spark, multisession_batches, tmp_path):
    """Session-scope min gate (P8): a 1-pair session is dropped when
    min_pairs_per_conv=2, identically in the batch kernel and the
    declarative keyed pipeline (ADVICE: curate_keyed previously ignored the
    gate)."""
    from data_harvesting_spark.operators.curate import curate_keyed
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.operators.sessionize import sessionize
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    cfg = _cfg(str(tmp_path), cap_scope="session", min_pairs_per_conv=2)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    tiny = want[want["conv_id"] == "mc-tiny"]
    assert tiny["window_start"].nunique() == 1, "1-pair session must be gated"
    assert len(tiny) == 3

    sess = sessionize(t, gap_seconds=1800).select(
        "conv_id", "window_start", "turn_idx", "role", "text", "tool", "ts"
    )
    got = curate_keyed(sess, cfg).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))


def test_conversation_min_gate_deferred_in_stream(spark, multisession_batches, tmp_path):
    """Conversation-scope min gate (P8) in the streaming curate job:
    below-gate pairs pool in the cap ledger's pending buffer, so the gate
    sees the TOTAL pair count — mc-tiny (4 pairs) is dropped whole under
    min=5 while the 9-pair conversations emit, exactly as in batch."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path), min_pairs_per_conv=5)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    assert "mc-tiny" not in set(want["conv_id"]), "gate must drop mc-tiny"
    assert len(want[want["conv_id"] == "mc0"]) == 9

    got = run_sessionized_stream_to_completion(
        spark, multisession_batches, cfg
    ).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_min_gate_failed_buffer_retained_for_pooling(spark, tmp_path_factory, tmp_path):
    """r2 ADVICE: when a conversation's session closes below the min gate
    (nothing emitted), the curate job must RETAIN its pairs in the cap
    ledger's pending pool for ``cap_state_retention`` so a later session
    pools toward the gate, exactly as batch pools the whole conversation.

    conv gf: 1-pair session closes gated, then a second 1-pair session
    arrives within the retention → min=2 is met by the POOLED total → both
    pairs emit, batch-equal. conv gx: identical, but an earlier epoch
    closes a session (hb at 100 min) past gx's last + gap + retention
    (90 min 10 s), which evicts gx's ledger row and pending pair before
    its second session arrives → gx stays gated, the documented
    beyond-retention divergence from batch."""
    import time as _time

    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    base = pd.Timestamp("2026-03-01 00:00:00")

    def pair(conv, idx0, t0):
        return [
            (conv, idx0, "assistant", f"call {idx0} {conv}", "search", t0),
            (conv, idx0 + 1, "tool", f"result {idx0} {conv}", "search",
             t0 + pd.Timedelta(seconds=10)),
        ]

    def hb(ts):
        return [("hb", int(ts.value % 10_000), "user", "beat", None, ts)]

    files = [
        pair("gf", 0, base) + pair("gx", 0, base),
        hb(base + pd.Timedelta(hours=1)),
        # wm = base+50m passed both first sessions' ends (base+30m10s):
        # both close below the gate and go to the pending pool
        hb(base + pd.Timedelta(minutes=65)),
        pair("gf", 2, base + pd.Timedelta(hours=1)),       # within retention
        # a session past gx's retention end (base+1h30m10s) ...
        hb(base + pd.Timedelta(minutes=100)),
        # ... closes once wm = base+2h20m passes base+2h10m, in the same
        # epoch as gf's second session: gf pools and emits, gx is evicted
        hb(base + pd.Timedelta(minutes=150)),
        hb(base + pd.Timedelta(minutes=155)),
        pair("gx", 2, base + pd.Timedelta(hours=3)),       # beyond retention
        [("conv-flush", 0, "user", "flush", "flush", base + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("gatefail_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))

    cfg = _cfg(
        str(tmp_path), min_pairs_per_conv=2, cap_state_retention="1 hour"
    )
    got = run_sessionized_stream_to_completion(spark, str(d), cfg).toPandas()

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(str(d) + "/*.parquet")
    want = curate_sessions(t, cfg).toPandas()
    want_gf = want[want["conv_id"] == "gf"]
    assert len(want_gf) == 2, "batch must pool gf's sessions past the gate"

    got_gf = got[got["conv_id"] == "gf"]
    pd.testing.assert_frame_equal(_canon(got_gf), _canon(want_gf))
    # batch pools gx's two sessions past the gate; beyond the retention the
    # stream (by documented design) keeps gx gated
    assert len(want[want["conv_id"] == "gx"]) == 2
    assert len(got[got["conv_id"] == "gx"]) == 0
    assert set(got["conv_id"]) == {"gf"}


def test_session_scope_stream_parity(spark, multisession_batches, tmp_path):
    """cap_scope='session': each session budgets/numbers independently —
    stream == batch kernel on the multi-session fixture (the non-default
    scope stays exact too)."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    cfg = _cfg(str(tmp_path), cap_scope="session", max_pairs_per_conv=2)
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    # per-session cap of 2 over 3-pair sessions: mc0 emits 2 per session
    g = want[want["conv_id"] == "mc0"]
    assert len(g) == 6 and sorted(g["example_idx"].unique()) == [0, 1]

    got = run_sessionized_stream_to_completion(
        spark, multisession_batches, cfg
    ).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_streaming_config_rejections(tmp_path):
    """Combinations a streaming architecture cannot implement exactly are
    rejected up front instead of silently diverging from batch."""
    from data_harvesting_spark.config import ConfigError, validate_config

    base = dict(
        sink_path=str(tmp_path / "s"), checkpoint_dir=str(tmp_path / "c")
    )
    # conversation-scope min gate: the curate job pools below-gate pairs
    # in a pending buffer beside its cap ledger
    validate_config(HarvestConfig(min_pairs_per_conv=2, **base))
    with pytest.raises(ConfigError):
        validate_config(HarvestConfig(cap_scope="bogus", **base))
    with pytest.raises(ConfigError):
        validate_config(
            HarvestConfig(max_pairs_per_conv=2, min_pairs_per_conv=3, **base)
        )
    # fine: the suppression cursor rides the cap ledger
    validate_config(HarvestConfig(suppress_turns_after_emit=3, **base))
    # fine: session scope closes atomically
    validate_config(
        HarvestConfig(cap_scope="session", min_pairs_per_conv=2, **base)
    )


def test_write_stream_only_in_start():
    """Every streaming job starts through ``pipeline._start``: the
    writeStream/checkpoint/trigger/foreachBatch block exists once, so no
    job can drift from the shared start contract (late counter, trigger,
    checkpoint). Fails on any mention of writeStream outside ``_start``."""
    import ast
    import pathlib

    import data_harvesting_spark.streaming as streaming_pkg

    pkg = pathlib.Path(streaming_pkg.__file__).parent
    start_lines = set()
    stray = []
    for path in sorted(pkg.glob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        if path.name == "pipeline.py":
            for n in tree.body:
                if isinstance(n, ast.FunctionDef) and n.name == "_start":
                    start_lines = set(range(n.lineno, n.end_lineno + 1))
        for no, line in enumerate(src.splitlines(), 1):
            if "writeStream" in line and not (
                path.name == "pipeline.py" and no in start_lines
            ):
                stray.append(f"{path.name}:{no}")
    assert not stray, f"writeStream outside pipeline._start: {stray}"
    assert start_lines, "pipeline._start not found"


def test_late_drop_counted_in_metrics(spark, tmp_path):
    """W6: rows dropped beyond the watermark surface in progress metrics
    (``lateDropped`` = the session-window operator's
    numRowsDroppedByWatermark) — the reference has no late-data concept,
    the graft must account for every dropped row.

    The operator filters late rows against the PREVIOUS micro-batch's
    watermark, so both sides of that lag are pinned: b1's pair is behind
    the watermark only from the batch right after the watermark passed it
    — kept (0 dropped) and curated as its own closed session; b2's pair is
    still behind it one batch later — dropped, and both rows counted."""
    import json

    import numpy as np

    from data_harvesting_spark.streaming.metrics import attach_progress_logger
    from data_harvesting_spark.streaming.pipeline import (
        run_sessionized_stream_to_completion,
    )

    src = tmp_path / "late_metrics_src"
    src.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    def rows(conv, idx, role, text, tool, ts):
        return pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": np.array(idx, dtype="int32"),
                "role": role,
                "text": text,
                "tool": tool,
                "ts": ts,
            }
        )

    def late_pair(idx0, t0):
        return rows(["c1", "c1"], [idx0, idx0 + 1], ["assistant", "tool"],
                    [f"call search {idx0}", f"result {idx0}"],
                    ["search", "search"], [t0, t0 + pd.Timedelta(seconds=10)])

    write_parquet_us(late_pair(0, base), str(src / "b0.parquet"))
    # both late pairs lie far behind the watermark b0 sets (base - 9m50s)
    write_parquet_us(late_pair(2, base - pd.Timedelta(hours=9)),
                     str(src / "b1.parquet"))
    write_parquet_us(late_pair(4, base - pd.Timedelta(hours=8)),
                     str(src / "b2.parquet"))
    write_parquet_us(
        rows(["flush"], [0], ["user"], ["z"], ["go"],
             [base + pd.Timedelta(hours=12)]),
        str(src / "b3.parquet"),
    )
    _force_arrival_order(src)

    metrics_path = str(tmp_path / "metrics.jsonl")
    listener = attach_progress_logger(spark, metrics_path)
    try:
        cfg = _cfg(str(tmp_path), watermark_delay="10 minutes")
        got = run_sessionized_stream_to_completion(
            spark, str(src), cfg
        ).toPandas()
    finally:
        spark.streams.removeListener(listener)

    lines = [json.loads(l) for l in open(metrics_path)]
    dropped = {
        p["batchId"]: p["lateDropped"] for p in lines if p["event"] == "progress"
    }
    # one data batch per file: b0..b3 are batches 0..3
    assert [dropped[b] for b in range(4)] == [0, 0, 2, 0], dropped
    assert sum(dropped.values()) == 2
    c1 = got[got["conv_id"] == "c1"]
    assert sorted(c1["response_turn_idx"]) == [1, 3]
    assert set(c1["window_start"]) == {base, base - pd.Timedelta(hours=9)}


def test_merge_sink_idempotent_replay(spark, fixture_batches, tmp_path):
    """S6/W7: the parquet-merge sink (local MERGE INTO stand-in) is
    idempotent — replaying the same batch (crash between write and
    checkpoint commit) leaves the keyed output set unchanged."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.sink import write_merge

    cfg = _cfg(str(tmp_path), sink_format="parquet-merge")
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    curated = curate_sessions(t, cfg)
    sink = str(tmp_path / "merged")

    write_merge(curated, 0, sink)
    once = spark.read.parquet(sink).toPandas()
    # forced replay of the same epoch, then a replay of a subset of WHOLE
    # sessions (the sink's contract: a batch carries complete sessions —
    # MERGE replaces per (conv_id, window_start)) — neither may duplicate
    # or drop rows
    write_merge(curated, 0, sink)
    some_convs = sorted(once["conv_id"].unique())[:5]
    write_merge(curated.where(curated.conv_id.isin(some_convs)), 1, sink)
    twice = spark.read.parquet(sink).toPandas()
    pd.testing.assert_frame_equal(_canon(once), _canon(twice))
    assert len(once) > 0


def test_merge_sink_rewrites_only_touched_buckets(spark, fixture_batches, tmp_path):
    """Scale posture of the merge sink: an epoch carrying one conversation
    must leave every untouched bucket partition's files byte-identical on
    disk (per-epoch cost O(touched), not O(sink))."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.sink import write_merge

    cfg = _cfg(str(tmp_path), sink_format="parquet-merge")
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    curated = curate_sessions(t, cfg)
    sink = str(tmp_path / "merged_scoped")
    write_merge(curated, 0, sink)

    def snapshot():
        out = {}
        for root, _, files in os.walk(sink):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot()
    one_conv = sorted(
        r[0] for r in curated.select("conv_id").distinct().limit(1).collect()
    )[0]
    write_merge(curated.where(F.col("conv_id") == one_conv), 1, sink)
    after = snapshot()

    from data_harvesting_spark.streaming.sink import N_MERGE_BUCKETS, _bucket_col

    touched_bucket = (
        curated.where(F.col("conv_id") == one_conv)
        .select(_bucket_col().alias("b"))
        .distinct()
        .collect()[0][0]
    )
    touched_dir = os.path.join(sink, f"_bucket={touched_bucket}")
    unchanged = {p: m for p, m in before.items() if not p.startswith(touched_dir)}
    for p, m in unchanged.items():
        assert p in after and after[p] == m, f"untouched file rewritten: {p}"
    assert any(p.startswith(touched_dir) for p in after)


@pytest.fixture(scope="module")
def dedup_batches(tmp_path_factory):
    """Duplicate turns injected in LATER micro-batches than their
    originals (the arrival contract the streaming dedup documents), so
    dropping them requires state that survives across batches."""
    import time as _time

    base = pd.Timestamp("2026-05-01 00:00:00")
    files = [
        # originals
        [("c1", 0, "user", "hello q", None, base),
         ("c1", 1, "assistant", "call search alpha", "search",
          base + pd.Timedelta(seconds=10)),
         ("c1", 2, "tool", "result alpha", "search",
          base + pd.Timedelta(seconds=20)),
         ("c2", 0, "user", "hi", None, base + pd.Timedelta(minutes=1)),
         ("c2", 1, "assistant", "call fetch beta", "fetch",
          base + pd.Timedelta(minutes=1, seconds=10)),
         ("c2", 2, "tool", "result beta", "fetch",
          base + pd.Timedelta(minutes=1, seconds=20))],
        # cross-batch duplicate of c1 turn 1 (+ a fresh turn)
        [("c1", 3, "assistant", "done", None, base + pd.Timedelta(minutes=2)),
         ("c1", 4, "assistant", "call search alpha", "search",
          base + pd.Timedelta(minutes=2, seconds=30))],
        # cross-batch duplicate of c2 turn 2; a brand-new conversation
        [("c2", 3, "tool", "result beta", "fetch", base + pd.Timedelta(minutes=3)),
         ("c3", 0, "user", "fresh", None, base + pd.Timedelta(minutes=3))],
        # duplicate two batches later, still within the watermark delay
        [("c1", 5, "user", "hello q", None, base + pd.Timedelta(minutes=4)),
         ("c3", 1, "assistant", "call go x", "go", base + pd.Timedelta(minutes=4))],
        [("conv-flush", 0, "user", "flush", "flush", base + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("dedup_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _dedup_batch_reference(spark, source_dir: str) -> pd.DataFrame:
    from data_harvesting_spark.operators.curate import dedup_turns
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return dedup_turns(t).toPandas()


def _canon_turns(pdf: pd.DataFrame) -> pd.DataFrame:
    keys = ["conv_id", "turn_idx"]
    return (
        pdf.sort_values(keys)
        .reset_index(drop=True)
        .reindex(sorted(pdf.columns), axis=1)
    )


def test_dedup_stream_equals_batch(spark, dedup_batches, tmp_path):
    """Streaming-native dedup (r2 VERDICT item): cross-micro-batch exact
    dedup via dropDuplicatesWithinWatermark equals batch dedup_turns when
    duplicates arrive within the watermark delay of their originals —
    including duplicates one AND two micro-batches after the original."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_dedup_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_dedup_stream_job(
        spark, dedup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _dedup_batch_reference(spark, dedup_batches)
    # the injected duplicates (c1:4, c2:3, c1:5) must be gone, originals kept
    assert {(r.conv_id, r.turn_idx) for r in got.itertuples()} & {
        ("c1", 4), ("c2", 3), ("c1", 5)
    } == set()
    pd.testing.assert_frame_equal(_canon_turns(got), _canon_turns(want))


def test_dedup_stream_kill_and_resume(spark, dedup_batches, tmp_path):
    """W7 on the dedup'd stream: stop mid-input, resume from checkpoint —
    the final output still equals batch dedup exactly (dedup state and
    sink offsets recover together; no duplicate resurrects, no row lost)."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_dedup_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_dedup_stream_job(
        spark, dedup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_dedup_stream_job(
        spark, dedup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _dedup_batch_reference(spark, dedup_batches)
    pd.testing.assert_frame_equal(_canon_turns(got), _canon_turns(want))


@pytest.fixture(scope="module")
def export_batches(tmp_path_factory):
    """Cross-conversation duplicate responses arriving in LATER
    micro-batches (and later epochs — the sessions provably close in
    different foreachBatch epochs), plus a low-quality first copy whose
    hash must still suppress later duplicates."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")

    def pair(conv, idx0, t0, call, resp):
        return [
            (conv, idx0, "assistant", call, "search", t0),
            (conv, idx0 + 1, "tool", resp, "search",
             t0 + pd.Timedelta(seconds=10)),
        ]

    files = [
        pair("a", 0, base, "call a0", "shared result one two")
        + pair("a", 2, base + pd.Timedelta(seconds=30), "call a1", "unique a response here")
        + pair("b", 0, base + pd.Timedelta(minutes=1), "call b0", "unique b response here"),
        # conv c: H1 duplicate + a LOW-QUALITY first copy ("tiny")
        pair("c", 0, base + pd.Timedelta(hours=1), "call c0", "shared result one two")
        + pair("c", 2, base + pd.Timedelta(hours=1, seconds=30), "call c1", "tiny")
        + pair("c", 4, base + pd.Timedelta(hours=1, minutes=1), "call c2", "unique c response here"),
        # conv d: duplicate of the low-quality hash + a fresh response
        pair("d", 0, base + pd.Timedelta(hours=2), "call d0", "tiny")
        + pair("d", 2, base + pd.Timedelta(hours=2, seconds=30), "call d1", "unique d response here"),
        [("conv-flush", 0, "user", "flush", "flush", base + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("export_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _export_batch_reference(spark, source_dir, cfg, min_words=3):
    """The batch training_export pipeline over curate_sessions — global
    keep-first response dedup, quality gate, redaction."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_harvesting_spark.functions.text import (
        quality_features,
        redact_pii,
    )
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    pairs = curate_sessions(t, cfg)
    w = Window.partitionBy("text_hash").orderBy("conv_id", "example_idx")
    firsts = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = firsts.where(
        quality_features(F.col("response_text"))["n_words"] >= min_words
    ).select(
        "conv_id", "window_start", "example_idx", "tool", "call_text",
        redact_pii(F.col("response_text")).alias("response_red"), "text_hash",
    )
    return out.toPandas()


def test_training_export_stream_equals_batch(spark, export_batches, tmp_path):
    """The composite training-export pipeline as a STREAM (curate →
    cross-conversation seen-hash dedup → quality gate → redaction) equals
    the batch pipeline: the epoch-N duplicate of an epoch-M<N response is
    dropped by the hash ledger, and a low-quality first copy suppresses
    later duplicates exactly as batch keep-first does."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_training_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_training_export_stream_job(
        spark, export_batches, cfg, available_now=False
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _export_batch_reference(spark, export_batches, cfg)
    want = want[want["conv_id"] != "conv-flush"]
    # the H1 duplicate (conv c) and the low-quality-hash duplicate
    # (conv d) are gone; the low-quality first copy is quality-gated
    assert set(got["conv_id"]) == {"a", "b", "c", "d"}
    assert len(got[got["conv_id"] == "c"]) == 1  # only "unique c"
    assert len(got[got["conv_id"] == "d"]) == 1  # only "unique d"
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_training_export_stream_kill_and_resume(spark, export_batches, tmp_path):
    """W7 on the export stream: the seen-hash ledger's per-epoch frozen
    snapshots replay to the same dedup decisions — kill mid-stream,
    resume, final output equals the uninterrupted batch reference."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_training_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_training_export_stream_job(
        spark, export_batches, cfg, available_now=False
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_training_export_stream_job(
        spark, export_batches, cfg, available_now=False
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _export_batch_reference(spark, export_batches, cfg)
    want = want[want["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got), _canon(want))


def test_cap_ledger_evicts_expired_conversations(spark, tmp_path_factory, tmp_path):
    """r2 VERDICT top item: the session-window runner's cap ledger must be
    O(conversations active within cap_state_retention), not O(all
    conversations ever seen). Many short-lived conversations stream
    through; once the batch event-time horizon passes their
    last + gap + retention, their ledger rows are evicted — only the
    recently-active conversations remain in the final snapshot."""
    import re
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_curate_job_session_window,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    base = pd.Timestamp("2026-04-01 00:00:00")

    def pair(conv, idx0, t0):
        return [
            (conv, idx0, "assistant", f"call {idx0} {conv}", "search", t0),
            (conv, idx0 + 1, "tool", f"result {idx0} {conv}", "search",
             t0 + pd.Timedelta(seconds=10)),
        ]

    early = []
    for i in range(10):
        early += pair(f"e{i}", 0, base + pd.Timedelta(minutes=i))
    files = [
        early,
        [("hb", 0, "user", "beat", None, base + pd.Timedelta(hours=1))],
        pair("L0", 0, base + pd.Timedelta(days=3))
        + pair("L1", 0, base + pd.Timedelta(days=3, minutes=1)),
        [("conv-flush", 0, "user", "flush", "flush",
          base + pd.Timedelta(days=3, hours=6))],
    ]
    d = tmp_path_factory.mktemp("evict_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))

    cfg = _cfg(str(tmp_path), cap_state_retention="1 hour")
    q = start_curate_job_session_window(spark, str(d), cfg, available_now=False)
    drain(q)

    # every conversation's pairs still emitted exactly once
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    assert set(got["conv_id"]) == {f"e{i}" for i in range(10)} | {"L0", "L1"}
    assert (got.groupby("conv_id").size() == 1).all()

    # the final ledger snapshot holds ONLY conversations still inside the
    # retention horizon — the 10 early ones (3 days stale) are gone
    ledger = cfg.sink_path.rstrip("/") + ".capledger"
    epochs = sorted(
        int(m.group(1))
        for m in (re.match(r"_epoch=(\d+)$", x) for x in os.listdir(ledger))
        if m
    )
    snap = spark.read.parquet(
        os.path.join(ledger, f"_epoch={epochs[-1]}")
    ).toPandas()
    assert set(snap["conv_id"]) == {"L0", "L1"}, snap["conv_id"].tolist()
    assert (snap["emitted"] == 1).all()


def test_merge_sink_crash_safe_promotion(spark, fixture_batches, tmp_path):
    """W7 hardening (r2 ADVICE): a hard crash at ANY point inside the
    bucket swap must never lose previously-merged rows. The promotion is
    atomic sibling renames (stage ``.new`` → live→``.old`` → ``.new``→live
    → drop ``.old``); each interruption window is constructed on disk, the
    epoch is replayed, and the keyed output set must equal the
    uninterrupted run's."""
    import shutil

    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.sink import (
        _bucket_col,
        read_merge_sink,
        write_merge,
    )

    cfg = _cfg(str(tmp_path), sink_format="parquet-merge")
    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        fixture_batches + "/*.parquet"
    )
    curated = curate_sessions(t, cfg)
    sink = str(tmp_path / "merged_crash")
    write_merge(curated, 0, sink)
    expected = _canon(read_merge_sink(spark, sink).toPandas())
    assert len(expected) > 0

    some_convs = sorted(
        r[0] for r in curated.select("conv_id").distinct().limit(3).collect()
    )
    replay = curated.where(F.col("conv_id").isin(some_convs))
    bucket = replay.select(_bucket_col().alias("b")).distinct().collect()[0][0]
    live = os.path.join(sink, f"_bucket={bucket}")

    # window 1: crash after staging .new, before touching the live dir
    shutil.copytree(live, live + ".new")
    write_merge(replay, 1, sink)
    pd.testing.assert_frame_equal(
        expected, _canon(read_merge_sink(spark, sink).toPandas())
    )

    # window 2: crash between live→.old and .new→live — the live dir is
    # GONE; the old code's rmtree-then-move window lost these rows
    os.rename(live, live + ".old")
    shutil.copytree(live + ".old", live + ".new")
    assert not os.path.isdir(live)
    write_merge(replay, 2, sink)
    pd.testing.assert_frame_equal(
        expected, _canon(read_merge_sink(spark, sink).toPandas())
    )

    # window 3: crash after .new→live, before dropping .old
    shutil.copytree(live, live + ".old")
    write_merge(replay, 3, sink)
    pd.testing.assert_frame_equal(
        expected, _canon(read_merge_sink(spark, sink).toPandas())
    )

    # the reader alone must also roll an interrupted swap forward
    os.rename(live, live + ".old")
    got = _canon(read_merge_sink(spark, sink).toPandas())
    pd.testing.assert_frame_equal(expected, got)
    assert os.path.isdir(live) and not os.path.isdir(live + ".old")


def test_iceberg_merge_sql_parses_and_gates(spark):
    """The Iceberg MERGE path can't run here (no jars offline), but the
    statement itself must be valid DSv2 SQL — parse it with vanilla
    Spark's parser — and the writer must refuse clearly without the
    extension instead of failing deep in py4j."""
    import pytest
    from pyspark.sql import functions as F

    from data_harvesting_spark.streaming.sink import (
        ICEBERG_MERGE_SQL,
        write_iceberg_merge,
    )

    sql = ICEBERG_MERGE_SQL.format(table="cat.db.curated")
    spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)

    df = spark.range(1).select(F.lit("c").alias("conv_id"))
    with pytest.raises(RuntimeError, match="Iceberg"):
        write_iceberg_merge(df, 0, "cat.db.curated")


def _iceberg_runtime_jar() -> bool:
    import glob

    import pyspark

    dirs = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    for var in ("SPARK_CLASSPATH", "ICEBERG_JARS"):
        dirs += [p for p in os.environ.get(var, "").split(":") if p]
    return any(
        glob.glob(os.path.join(d, "*iceberg-spark-runtime*")) for d in dirs
    )


@pytest.mark.skipif(
    not _iceberg_runtime_jar(),
    reason="iceberg-spark-runtime jar not on the classpath — real MERGE "
    "execution is environment-blocked in this container (documented in "
    "BENCH.md); this test lights up unchanged the moment the jar exists",
)
def test_iceberg_merge_end_to_end(tmp_path):
    """Real Iceberg MERGE INTO: idempotent replay + upsert, run in a
    subprocess so the Iceberg SQL extension can be configured at session
    build time without disturbing the shared test session."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, {os.getcwd()!r})
        from pyspark.sql import SparkSession, functions as F
        wh = {str(tmp_path / "wh")!r}
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.extensions",
                    "org.apache.iceberg.spark.extensions"
                    ".IcebergSparkSessionExtensions")
            .config("spark.sql.catalog.local",
                    "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", wh)
            .getOrCreate()
        )
        from data_harvesting_spark.streaming.sink import write_iceberg_merge
        spark.sql(
            "CREATE TABLE local.db.curated (conv_id STRING, "
            "window_start TIMESTAMP, example_idx INT, response_text STRING) "
            "USING iceberg"
        )
        b = spark.createDataFrame(
            [("c1", "2026-01-01 00:00:00", 0, "r0"),
             ("c1", "2026-01-01 00:00:00", 1, "r1")],
            "conv_id string, window_start string, example_idx int, "
            "response_text string",
        ).withColumn("window_start", F.to_timestamp("window_start"))
        write_iceberg_merge(b, 0, "local.db.curated")
        write_iceberg_merge(b, 0, "local.db.curated")  # replay: idempotent
        assert spark.table("local.db.curated").count() == 2
        b2 = b.withColumn("response_text", F.lit("r-updated"))
        write_iceberg_merge(b2, 1, "local.db.curated")
        rows = spark.table("local.db.curated").collect()
        assert len(rows) == 2 and all(
            r.response_text == "r-updated" for r in rows
        )
        print("ICEBERG-E2E-OK")
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ICEBERG-E2E-OK" in r.stdout


# ---------------------------------------------------------------------------
# Streaming-native NEAR-dup (MinHash bucket-representative) — r3
# ---------------------------------------------------------------------------

_ND_ORIG = "the quick brown fox jumps over the lazy dog near the river bank today"
_ND_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
_ND_NEAR2 = "a quick brown fox jumps over the lazy dog near the river bank today"
_ND_DIST = "completely different words about spark streaming engines and window state"
_ND_DIST2 = "yet another unrelated sentence concerning parquet files and shuffle metrics"


@pytest.fixture(scope="module")
def neardup_batches(tmp_path_factory):
    """Near-duplicate turn texts arriving in LATER micro-batches than
    their originals (one and two batches later), so suppressing them
    requires the band-bucket ledger to survive across epochs. Arrival
    order across batches is consistent with (ts, conv_id, turn_idx) —
    the documented parity contract."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")
    files = [
        [("c1", 0, "user", _ND_ORIG, None, base),
         ("c1", 1, "assistant", _ND_DIST, "search",
          base + pd.Timedelta(seconds=10)),
         ("c1", 2, "user", "hi", None, base + pd.Timedelta(seconds=20))],
        # near-dup of the original, one batch later + a fresh distinct text
        [("c2", 0, "user", _ND_NEAR, None, base + pd.Timedelta(minutes=2)),
         ("c2", 1, "assistant", _ND_DIST2, "fetch",
          base + pd.Timedelta(minutes=2, seconds=10))],
        # second near-dup two batches after the original
        [("c3", 0, "user", _ND_NEAR2, None, base + pd.Timedelta(minutes=4))],
        [("conv-flush", 0, "user", "flush", "flush",
          base + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("neardup_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _neardup_batch_reference(spark, source_dir: str) -> pd.DataFrame:
    from data_harvesting_spark.operators.dedup import lsh_bucket_dedup
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return lsh_bucket_dedup(t, ["ts", "conv_id", "turn_idx"]).toPandas()


def test_neardup_stream_equals_batch(spark, neardup_batches, tmp_path):
    """Cross-micro-batch MinHash near-dup suppression equals batch
    lsh_bucket_dedup: near-duplicates one AND two batches after the
    original drop; distinct and shingle-less texts survive."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_neardup_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_neardup_stream_job(
        spark, neardup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    assert ("c2", 0) not in keys and ("c3", 0) not in keys  # near-dups gone
    assert {("c1", 0), ("c1", 1), ("c1", 2), ("c2", 1)} <= keys
    want = _neardup_batch_reference(spark, neardup_batches)
    pd.testing.assert_frame_equal(_canon_turns(got), _canon_turns(want))


def test_neardup_stream_kill_and_resume(spark, neardup_batches, tmp_path):
    """W7 on the near-dup'd stream: stop mid-input, resume from the
    checkpoint — output still equals batch exactly (the frozen-pre-state
    band ledger replays idempotently with the epoch sink)."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_neardup_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_neardup_stream_job(
        spark, neardup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_neardup_stream_job(
        spark, neardup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _neardup_batch_reference(spark, neardup_batches)
    pd.testing.assert_frame_equal(_canon_turns(got), _canon_turns(want))


def test_conversation_min_gate_pooled_in_session_window_runner(
    spark, multisession_batches, tmp_path
):
    """The curate job implements the conversation-scope min gate by
    POOLING below-gate pairs in a pending buffer beside the cap ledger.
    mc-tiny's 1-pair first session (closing in an earlier epoch) is
    withheld, then emitted together with the second session once the
    pooled total passes min=2 — cumulative numbering from the earlier
    window, batch-equal. (min=5, where mc-tiny never emits, is
    test_conversation_min_gate_deferred_in_stream.)"""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_curate_job_session_window,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]

    # min=2: mc-tiny pools 1 + 3 pairs across epochs and emits all 4
    cfg = _cfg(str(tmp_path / "m2"), min_pairs_per_conv=2)
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    tiny = want[want["conv_id"] == "mc-tiny"]
    assert len(tiny) == 4 and tiny["window_start"].nunique() == 2
    assert sorted(tiny["example_idx"]) == [0, 1, 2, 3]

    q = start_curate_job_session_window(
        spark, multisession_batches, cfg, available_now=False
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))


def test_min_gate_pending_kill_and_resume(spark, multisession_batches, tmp_path):
    """W7 × P8: kill the session-window runner while below-gate pairs sit
    in the pending buffer, resume — the frozen-pre-state pending snapshots
    replay with the ledger, so the final output still equals batch."""
    import time

    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_curate_job_session_window,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path), min_pairs_per_conv=2)
    q = start_curate_job_session_window(
        spark, multisession_batches, cfg, available_now=False
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_curate_job_session_window(
        spark, multisession_batches, cfg, available_now=False
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
        multisession_batches + "/*.parquet"
    )
    want = curate_sessions(t, cfg).toPandas()
    want = want[want["conv_id"] != "conv-flush"]
    cols = ["conv_id", "window_start", "example_idx", "call_turn_idx",
            "response_turn_idx", "tool", "call_text", "response_text"]
    pd.testing.assert_frame_equal(_canon(got[cols]), _canon(want[cols]))


_BP = "please run the standard diagnostic"


@pytest.fixture(scope="module")
def boilerplate_batches(tmp_path_factory):
    """A canned text spreading across conversations in successive
    micro-batches: 1 conv in batch 0, two more in batch 1 (crossing
    min_convs=3 there), a fourth in batch 2 — plus unique texts that must
    always survive. Arrival order is consistent with event time."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")
    files = [
        [("b1", 0, "user", _BP, None, base),
         ("b1", 1, "assistant", "unique alpha", "search",
          base + pd.Timedelta(seconds=10))],
        [("b2", 0, "user", _BP, None, base + pd.Timedelta(minutes=2)),
         ("b3", 0, "user", _BP, None, base + pd.Timedelta(minutes=3))],
        [("b4", 0, "user", _BP, None, base + pd.Timedelta(minutes=5)),
         ("b4", 1, "user", "unique beta", None,
          base + pd.Timedelta(minutes=6))],
    ]
    d = tmp_path_factory.mktemp("boilerplate_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _latest_ledger(spark, ledger_path: str):
    epochs = sorted(
        int(n.split("=")[1])
        for n in os.listdir(ledger_path)
        if n.startswith("_epoch=")
    )
    return spark.read.parquet(
        os.path.join(ledger_path, f"_epoch={epochs[-1]}")
    )


def test_boilerplate_stream_prefix_consistent_and_sound(
    spark, boilerplate_batches, tmp_path
):
    """The streamed filter drops every copy from the epoch where the text
    crosses min_convs onward, keeps the pre-threshold prefix, and is SOUND
    vs the retrospective batch operator: everything the stream drops, the
    batch rule drops too (the batch additionally retracts the prefix)."""
    from data_harvesting_spark.operators.quality import boilerplate_turns
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_boilerplate_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_boilerplate_stream_job(
        spark, boilerplate_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, min_convs=3,
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    # prefix copy emitted before the text was boilerplate stays emitted
    assert ("b1", 0) in keys
    # the crossing batch and everything after is suppressed
    assert ("b2", 0) not in keys and ("b3", 0) not in keys
    assert ("b4", 0) not in keys
    # unique texts always survive
    assert ("b1", 1) in keys and ("b4", 1) in keys

    src = spark.read.parquet(boilerplate_batches + "/*.parquet")
    batch_kept = {
        (r.conv_id, r.turn_idx)
        for r in boilerplate_turns(src, min_convs=3).collect()
    }
    all_keys = {(r.conv_id, r.turn_idx) for r in src.collect()}
    # soundness: stream-dropped ⊆ batch-dropped, batch-kept ⊆ stream-kept
    assert (all_keys - keys) <= (all_keys - batch_kept)
    assert batch_kept <= keys
    # and the two differ exactly by the pre-threshold prefix
    assert keys - batch_kept == {("b1", 0)}


def test_boilerplate_stream_ledger_collapses(
    spark, boilerplate_batches, tmp_path
):
    """Zipf-aware state: once a text crosses the threshold its per-conv
    pair rows collapse into ONE flag row — the hottest texts carry the
    least ledger state."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_boilerplate_stream_job,
    )

    cfg = _cfg(str(tmp_path))
    q = start_boilerplate_stream_job(
        spark, boilerplate_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, min_convs=3,
    )
    drain(q)
    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".textfreq")
    pdf = led.toPandas()
    flags = pdf[pdf["boiler"]]
    assert len(flags) == 1          # exactly the one canned text
    assert flags["conv_id"].isna().all()
    # no pair rows survive for the flagged key
    assert not (
        (pdf["tkey"].isin(flags["tkey"])) & (~pdf["boiler"])
    ).any()
    # unique texts remain as pair rows (one per (text, conv))
    assert (~pdf["boiler"]).sum() == 2


def test_boilerplate_stream_kill_and_resume(
    spark, boilerplate_batches, tmp_path
):
    """W7 on the boilerplate-filtered stream: stop mid-input, resume from
    the checkpoint — the final output equals the uninterrupted run (the
    frozen-pre-state frequency ledger replays idempotently)."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_boilerplate_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_boilerplate_stream_job(
        spark, boilerplate_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, min_convs=3,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_boilerplate_stream_job(
        spark, boilerplate_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, min_convs=3,
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    assert keys == {("b1", 0), ("b1", 1), ("b4", 1)}
    # exactly-once: no duplicated rows either
    assert len(got) == 3


def test_boilerplate_stream_retention_restarts_count(spark, tmp_path):
    """A text quiet for the whole retention is evicted from the ledger and
    restarts its distinct-conversation count — bounded state, documented
    re-admission trade."""
    import time as _time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_boilerplate_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    base = pd.Timestamp("2026-06-01 00:00:00")
    files = [
        # crosses min_convs=3 immediately: all three copies dropped
        [("c1", 0, "user", _BP, None, base),
         ("c2", 0, "user", _BP, None, base + pd.Timedelta(seconds=1)),
         ("c3", 0, "user", _BP, None, base + pd.Timedelta(seconds=2))],
        # unrelated activity 6h later — past the 1h retention, the flag
        # (last activity at ~t0) evicts when this snapshot is written
        [("q1", 0, "user", "quiet unrelated", None,
          base + pd.Timedelta(hours=6))],
        # the canned text returns: count restarted, so it is KEPT
        [("c9", 0, "user", _BP, None,
          base + pd.Timedelta(hours=6, minutes=5))],
    ]
    d = tmp_path / "src"
    d.mkdir()
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))

    cfg = _cfg(str(tmp_path), cap_state_retention="1 hour")
    q = start_boilerplate_stream_job(
        spark, str(d), cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, min_convs=3,
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    assert ("c1", 0) not in keys and ("c2", 0) not in keys
    assert ("c3", 0) not in keys
    assert ("q1", 0) in keys
    assert ("c9", 0) in keys    # readmitted after eviction


def _write_toy_epochs(spark, sink, n_epochs):
    from pyspark.sql import functions as F

    from data_harvesting_spark.streaming.sink import write_epoch

    for ep in range(n_epochs):
        df = spark.range(ep * 10, ep * 10 + 10).select(
            F.col("id"), F.lit(f"e{ep}").alias("tag")
        )
        write_epoch(df, ep, sink)


def test_compact_epochs_preserves_rows_and_layout_contract(spark, tmp_path):
    """Epoch compaction (the rewrite_data_files analog): exact row-multiset
    preservation incl. per-row _epoch provenance, file count shrinks, the
    keep_last replayable epochs are untouched byte-for-byte, repeated
    compaction folds the previous consolidation, and a no-new-work call is
    a no-op."""
    import glob

    from data_harvesting_spark.streaming.sink import (
        compact_epochs,
        read_epoch_sink,
    )

    sink = str(tmp_path / "sink")
    _write_toy_epochs(spark, sink, 6)
    before = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    protected = {
        d: sorted(os.listdir(os.path.join(sink, d)))
        for d in ("_epoch=4", "_epoch=5")
    }
    n_before = len(glob.glob(sink + "/_epoch=*/*.parquet"))

    dest = compact_epochs(spark, sink, keep_last=2, target_partitions=2)
    assert dest == "_epoch=compact-3"
    after = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(before, after)
    assert len(glob.glob(sink + "/_epoch=*/*.parquet")) < n_before
    for d, files in protected.items():
        assert sorted(os.listdir(os.path.join(sink, d))) == files

    # the audit map records the fold
    import json as _json

    with open(os.path.join(sink, "_lineage.jsonl")) as f:
        recs = [_json.loads(l) for l in f]
    folds = [r for r in recs if r.get("compaction") == "_epoch=compact-3"]
    assert len(folds) == 1 and folds[0]["folded"] == [
        "_epoch=0", "_epoch=1", "_epoch=2", "_epoch=3"
    ]

    # idempotent: nothing new to fold
    assert compact_epochs(spark, sink, keep_last=2) is None

    # generational re-fold after more epochs
    from pyspark.sql import functions as F

    from data_harvesting_spark.streaming.sink import write_epoch

    for ep in range(6, 9):
        df = spark.range(ep * 10, ep * 10 + 10).select(
            F.col("id"), F.lit(f"e{ep}").alias("tag")
        )
        write_epoch(df, ep, sink)
    assert compact_epochs(spark, sink, keep_last=2) == "_epoch=compact-6"
    final = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    assert len(final) == 90
    assert sorted(
        d for d in os.listdir(sink) if d.startswith("_epoch=")
    ) == ["_epoch=7", "_epoch=8", "_epoch=compact-6"]


def test_compact_epochs_crash_windows(spark, tmp_path):
    """Every interruption window of the marker protocol resolves without
    row loss or duplication: (a) crash right after the marker was written
    (staged dir complete, sources still present); (b) crash mid-removal;
    (c) crash after the move with the marker left behind."""
    import json

    from data_harvesting_spark.streaming.sink import (
        compact_epochs,
        read_epoch_sink,
    )

    def build(tag):
        sink = str(tmp_path / f"sink_{tag}")
        _write_toy_epochs(spark, sink, 5)
        want = read_epoch_sink(spark, sink).orderBy("id").toPandas()
        # stage exactly what compact_epochs would: sources 0..2 → compact-2
        sources = ["_epoch=0", "_epoch=1", "_epoch=2"]
        tmp_root = sink + ".compact.tmp"
        staged = os.path.join(tmp_root, "_epoch=compact-2")
        df = spark.read.parquet(*[os.path.join(sink, s) for s in sources])
        df.coalesce(2).write.mode("overwrite").parquet(staged)
        with open(os.path.join(sink, ".compacting"), "w") as f:
            json.dump({"remove": sources, "dest": "_epoch=compact-2"}, f)
        return sink, sources, tmp_root, want

    import shutil

    # (a) marker written, nothing removed yet
    sink, _, _, want = build("a")
    got = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert not os.path.exists(os.path.join(sink, ".compacting"))

    # (b) crash mid-removal: one source already gone
    sink, sources, _, want = build("b")
    shutil.rmtree(os.path.join(sink, sources[0]))
    got = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got, want)

    # (c) crash after the move, marker + empty tmp left behind
    sink, sources, tmp_root, want = build("c")
    for s in sources:
        shutil.rmtree(os.path.join(sink, s))
    os.rename(
        os.path.join(tmp_root, "_epoch=compact-2"),
        os.path.join(sink, "_epoch=compact-2"),
    )
    got = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert not os.path.exists(os.path.join(sink, ".compacting"))

    # only one foldable source remains → correctly a no-op ...
    assert compact_epochs(spark, sink, keep_last=2) is None
    # ... until new epochs settle, then the recovered sink folds again
    from pyspark.sql import functions as F

    from data_harvesting_spark.streaming.sink import write_epoch

    for ep in (5, 6):
        df = spark.range(ep * 10, ep * 10 + 10).select(
            F.col("id"), F.lit(f"e{ep}").alias("tag")
        )
        write_epoch(df, ep, sink)
    assert compact_epochs(spark, sink, keep_last=2) == "_epoch=compact-4"


def test_reader_racing_in_flight_compaction_loses_nothing(spark, tmp_path):
    """The round-3 ADVICE race: ``read_epoch_sink`` used to delete
    ``<sink>.compact.tmp`` whenever no marker existed, so a reader running
    between ``compact_epochs``' staging write and its marker write
    destroyed the fully-staged rows the compactor was about to commit
    (the compactor then removed the sources — permanent loss). Pin the
    fix: (a) a reader in the pre-marker window reads the full sink AND
    leaves the staged attempt untouched; (b) the compactor's post-marker
    tail completes against the surviving staged dir with no row loss;
    (c) a torn marker is treated as pre-commit (sources intact) and the
    sink stays fully readable."""
    import json

    from data_harvesting_spark.streaming.sink import (
        compact_epochs,
        read_epoch_sink,
    )

    sink = str(tmp_path / "sink")
    _write_toy_epochs(spark, sink, 5)
    want = read_epoch_sink(spark, sink).orderBy("id").toPandas()

    # stage exactly what compact_epochs does pre-marker (attempt dir, no
    # marker yet): the in-flight window the racing reader lands in
    sources = ["_epoch=0", "_epoch=1", "_epoch=2"]
    tmp_root = sink + ".compact.tmp"
    staged = os.path.join(tmp_root, "attempt01", "_epoch=compact-2")
    df = spark.read.parquet(*[os.path.join(sink, s) for s in sources])
    df.coalesce(2).write.mode("overwrite").parquet(staged)

    # (a) racing reader: full rows, staged attempt survives
    got = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert os.path.isdir(staged), "reader deleted an in-flight staging dir"

    # (b) compactor proceeds: marker → removals → rename → unmark
    with open(os.path.join(sink, ".compacting"), "w") as f:
        json.dump(
            {"remove": sources, "dest": "_epoch=compact-2",
             "attempt": "attempt01"}, f,
        )
    import shutil

    for s in sources:
        shutil.rmtree(os.path.join(sink, s))
    os.rename(staged, os.path.join(sink, "_epoch=compact-2"))
    os.remove(os.path.join(sink, ".compacting"))
    shutil.rmtree(tmp_root, ignore_errors=True)
    got = read_epoch_sink(spark, sink).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got, want)

    # (c) torn marker (crash mid-write, pre-atomic-rename artifact): the
    # protocol writes the marker before touching sources, so recovery
    # treats it as pre-commit — sink reads fully, marker is dropped
    sink2 = str(tmp_path / "sink2")
    _write_toy_epochs(spark, sink2, 3)
    want2 = read_epoch_sink(spark, sink2).orderBy("id").toPandas()
    with open(os.path.join(sink2, ".compacting"), "w") as f:
        f.write('{"remove": ["_epoch=0"], "de')  # truncated JSON
    got2 = read_epoch_sink(spark, sink2).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got2, want2)
    assert not os.path.exists(os.path.join(sink2, ".compacting"))

    # a real compaction over the recovered sink still works end to end
    assert compact_epochs(spark, sink2, keep_last=1) == "_epoch=compact-1"
    got3 = read_epoch_sink(spark, sink2).orderBy("id").toPandas()
    pd.testing.assert_frame_equal(got3, want2)


@pytest.fixture(scope="module")
def dpo_batches(tmp_path_factory):
    """Two tools whose preference candidates arrive across separate
    micro-batches (so best/worst fold across epochs), one tool with a
    single candidate (must never export), plus the watermark flush row."""
    import time as _time

    base = pd.Timestamp("2026-07-01 00:00:00")

    def pair(conv, idx0, t0, tool, call, resp):
        return [
            (conv, idx0, "assistant", call, tool, t0),
            (conv, idx0 + 1, "tool", resp, tool,
             t0 + pd.Timedelta(seconds=10)),
        ]

    files = [
        pair("a", 0, base, "search", "find x", "alpha result payload")
        + pair("a", 2, base + pd.Timedelta(seconds=30), "browser",
               "open y", "bravo page body"),
        pair("b", 0, base + pd.Timedelta(hours=1), "search", "find z",
             "charlie result payload")
        + pair("b", 2, base + pd.Timedelta(hours=1, seconds=30), "lonely",
               "only one", "delta single candidate"),
        pair("c", 0, base + pd.Timedelta(hours=2), "search", "find w",
             "echo result payload")
        + pair("c", 2, base + pd.Timedelta(hours=2, seconds=30), "browser",
               "open v", "foxtrot page body")
        + pair("c", 4, base + pd.Timedelta(hours=2, minutes=1), "browser",
               "open u", "golf page body"),
        [("conv-flush", 0, "user", "flush", "flush",
          base + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("dpo_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _dpo_batch_reference(spark, source_dir, cfg):
    """The same per-tool best/worst aggregate run in ONE batch over the
    whole input — shared helpers, so parity checks the LEDGER FOLDING, not
    the scoring."""
    from data_harvesting_spark.operators.curate_sessions import curate_sessions
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA
    from data_harvesting_spark.streaming.pipeline import (
        dpo_candidates,
        dpo_pairs_from_state,
        dpo_state,
    )

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    pairs = curate_sessions(t, cfg)
    return dpo_pairs_from_state(dpo_state(dpo_candidates(pairs))).toPandas()


def _canon_dpo(pdf):
    return (
        pdf.sort_values("tool")
        .reset_index(drop=True)
        .reindex(sorted(pdf.columns), axis=1)
    )


def test_dpo_export_stream_equals_batch(spark, dpo_batches, tmp_path):
    """The per-tool preference ledger folds micro-batch extremes into
    exactly the batch aggregate: the latest emitted pair per tool equals
    the one-shot batch DPO export, a single-candidate tool never exports,
    and every exported pair has a strict reward gap."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        read_dpo_export,
        start_dpo_export_stream_job,
    )

    cfg = _cfg(str(tmp_path))
    q = start_dpo_export_stream_job(spark, dpo_batches, cfg,
                                    available_now=False)
    drain(q)
    got = read_dpo_export(spark, cfg.sink_path).toPandas()
    want = _dpo_batch_reference(spark, dpo_batches, cfg)
    assert set(got["tool"]) == {"search", "browser"}
    assert "lonely" not in set(got["tool"])
    assert (got["chosen_reward"] > got["rejected_reward"]).all()
    pd.testing.assert_frame_equal(_canon_dpo(got), _canon_dpo(want))


def test_dpo_export_stream_kill_and_resume(spark, dpo_batches, tmp_path):
    """W7 on the DPO stream: frozen per-epoch ledger snapshots replay to
    the same folds — kill mid-stream, resume, the final dataset equals
    the uninterrupted batch reference."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        read_dpo_export,
        start_dpo_export_stream_job,
    )

    cfg = _cfg(str(tmp_path))
    q = start_dpo_export_stream_job(spark, dpo_batches, cfg,
                                    available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_dpo_export_stream_job(spark, dpo_batches, cfg,
                                     available_now=False)
    drain(q2)
    got = read_dpo_export(spark, cfg.sink_path).toPandas()
    want = _dpo_batch_reference(spark, dpo_batches, cfg)
    pd.testing.assert_frame_equal(_canon_dpo(got), _canon_dpo(want))


# ------------------------------------------------------------ SFT export
def _sft_batch_reference(spark, source_dir: str) -> pd.DataFrame:
    from data_harvesting_spark.operators.aggregates import sft_pairs_frame
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return sft_pairs_frame(t, context_turns=3).toPandas()


def _canon_sft(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf[["conv_id", "turn_idx", "context", "target"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_sft_export_stream_equals_batch(spark, fixture_batches, tmp_path):
    """The streaming SFT export (buffer-then-emit + emitted-turns carry)
    equals the batch sft_pairs frame over the same files — every
    context window, including ones whose target sits in a later session
    than its context turns."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(spark, fixture_batches, cfg,
                                    available_now=False)
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _sft_batch_reference(spark, fixture_batches)
    want = want[want["conv_id"] != "conv-flush"]
    assert len(got) > 0
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))


@pytest.fixture(scope="module")
def sft_two_session_batches(tmp_path_factory):
    """One conversation whose two sessions sit 2 hours apart (gap 30 min):
    the first assistant turn of session 2 must see session 1's tail as
    context — the carry contract. Arrival order: session 1, then session
    2, then the flush row."""
    import time as _time

    base = pd.Timestamp("2026-07-02 00:00:00")
    s2 = base + pd.Timedelta(hours=2)
    files = [
        [
            ("conv-x", 0, "user", "how do I sort a table", None, base),
            ("conv-x", 1, "assistant", "use ORDER BY", None,
             base + pd.Timedelta(seconds=20)),
            ("conv-x", 2, "user", "and partition it", None,
             base + pd.Timedelta(seconds=40)),
            ("conv-x", 3, "assistant", "PARTITION BY works", None,
             base + pd.Timedelta(seconds=60)),
        ],
        [
            ("conv-x", 4, "user", "back again: what about windows", None, s2),
            ("conv-x", 5, "assistant", "frame with ROWS BETWEEN", None,
             s2 + pd.Timedelta(seconds=20)),
        ],
        [("conv-flush", 0, "user", "flush", "flush",
          s2 + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("sft_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_sft_export_context_crosses_session_close(
    spark, sft_two_session_batches, tmp_path
):
    """Turn 4 (user) and turn 5 (assistant) arrive after session 1 was
    emitted; the carry supplies turns 2,3,4 as turn 5's context exactly
    as the batch whole-conversation frame does."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(spark, sft_two_session_batches, cfg,
                                    available_now=False)
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] == "conv-x"]
    want = _sft_batch_reference(spark, sft_two_session_batches)
    want = want[want["conv_id"] == "conv-x"]
    t5 = got[got["turn_idx"] == 5]
    assert len(t5) == 1
    assert t5["context"].iloc[0] == (
        "user: and partition it\n"
        "assistant: PARTITION BY works\n"
        "user: back again: what about windows"
    )
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))


def test_sft_export_stream_kill_and_resume(spark, fixture_batches, tmp_path):
    """W7 on the SFT stream: deterministic handler + checkpoint-versioned
    state + idempotent epoch sink — kill mid-stream, resume, final output
    equals the uninterrupted batch reference."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(spark, fixture_batches, cfg,
                                    available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_sft_export_stream_job(spark, fixture_batches, cfg,
                                     available_now=False)
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _sft_batch_reference(spark, fixture_batches)
    want = want[want["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))


# --------------------------------------------------------------- sketch stream
@pytest.fixture(scope="module")
def sketch_batches(tmp_path_factory):
    """Three micro-batches of turns with overlapping vocabulary so the
    cumulative sketches actually merge (shared words across epochs, new
    words appearing late)."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")
    files = [
        [("s1", 0, "user", "alpha beta gamma alpha", None, base),
         ("s1", 1, "assistant", "beta delta", "search",
          base + pd.Timedelta(seconds=5))],
        [("s2", 0, "user", "alpha epsilon zeta", None,
          base + pd.Timedelta(minutes=1))],
        [("s3", 0, "user", "eta theta alpha beta", None,
          base + pd.Timedelta(minutes=2)),
         ("s3", 1, "user", "", None, base + pd.Timedelta(minutes=3))],
    ]
    d = tmp_path_factory.mktemp("sketch_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _batch_words(spark, source_dir):
    from pyspark.sql import functions as F

    from data_harvesting_spark.functions.text import normalize_text

    src = spark.read.parquet(source_dir + "/*.parquet")
    return src.select(
        F.explode(
            F.filter(F.split(normalize_text("text"), " "), lambda x: x != "")
        ).alias("term")
    )


def test_sketch_stream_final_state_equals_batch(
    spark, sketch_batches, tmp_path
):
    """Mergeability end-to-end: after streaming the input in three
    epochs, the cumulative ledger's CMS cells equal the one-shot batch
    sketch EXACTLY (cell-wise sum across epochs == single build), the
    HLL registers equal the batch registers (max-merge), and the final
    monitoring row's estimate equals batch hll_distinct's."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.sketch import (
        cms_build,
        hll_distinct,
        hll_registers,
    )
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sketch_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sketch_stream_job(
        spark, sketch_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q)

    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".sketch")
    words = _batch_words(spark, sketch_batches)

    got_cms = (
        led.where(F.col("kind") == "cms")
        .select(F.col("r").alias("row"), F.col("c").alias("col"),
                F.col("v").alias("cnt"))
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    )
    want_cms = (
        cms_build(words).toPandas()
        .sort_values(["row", "col"]).reset_index(drop=True)
        .astype(got_cms.dtypes.to_dict())
    )
    pd.testing.assert_frame_equal(got_cms, want_cms)

    got_regs = (
        led.where(F.col("kind") == "hll")
        .select(F.col("c").alias("bucket"), F.col("v").alias("m_j"))
        .toPandas().sort_values("bucket").reset_index(drop=True)
    )
    want_regs = (
        hll_registers(words).toPandas()
        .sort_values("bucket").reset_index(drop=True)
        .astype(got_regs.dtypes.to_dict())
    )
    pd.testing.assert_frame_equal(got_regs, want_regs)

    # monitoring rows: one per non-empty epoch, monotone cumulative
    # counts, final estimate == batch estimate over the same words
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    assert (rows["n_words_cum"].diff().dropna() >= 0).all()
    assert rows["n_words_cum"].iloc[-1] == words.count()
    batch = hll_distinct(words).collect()[0]
    assert rows["hll_distinct_words"].iloc[-1] == batch["hll_estimate"]
    assert rows["registers_used"].iloc[-1] == batch["registers_used"]

    # CMS+heap heavy hitters: the final cumulative top list equals the
    # exact batch frequency order (8 distinct terms, sketch is exact at
    # this width) — alpha×4, beta×3, then the singletons by term
    assert list(rows["top_terms"].iloc[-1]) == [
        "alpha", "beta", "delta", "epsilon", "eta", "gamma", "theta",
        "zeta",
    ]
    # candidate rows live in the ledger, bounded by top_n
    cand = led.where(F.col("kind") == "cand").toPandas()
    assert 0 < len(cand) <= 10
    assert cand.loc[cand["v"].idxmax(), "term"] == "alpha"


def test_sketch_stream_kill_and_resume(spark, sketch_batches, tmp_path):
    """W7 on the sketch stream: stop mid-input, resume from checkpoint —
    the final ledger and monitoring rows equal the uninterrupted run's
    (frozen-pre-state snapshots replay idempotently; sums don't
    double-count the replayed epoch)."""
    import time

    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.sketch import cms_build
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sketch_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sketch_stream_job(
        spark, sketch_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_sketch_stream_job(
        spark, sketch_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q2)

    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".sketch")
    words = _batch_words(spark, sketch_batches)
    got_cms = (
        led.where(F.col("kind") == "cms")
        .select(F.col("r").alias("row"), F.col("c").alias("col"),
                F.col("v").alias("cnt"))
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    )
    want_cms = (
        cms_build(words).toPandas()
        .sort_values(["row", "col"]).reset_index(drop=True)
        .astype(got_cms.dtypes.to_dict())
    )
    pd.testing.assert_frame_equal(got_cms, want_cms)
    # total word count not double-counted despite the replayed epoch
    rows = read_epoch_sink(spark, cfg.sink_path).toPandas()
    assert rows["n_words_cum"].max() == words.count()


# --------------------------------------------------------------- funnel stream
@pytest.fixture(scope="module")
def funnel_batches(tmp_path_factory):
    """Event-log micro-batches with stages arriving OUT OF ORDER across
    epochs: u1's purchase lands in batch 0 but its signup only in batch
    2 — the min-merge fold must still credit the full funnel at the
    end."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, 1.0, "{}")

    files = [
        [ev(1, 1, "purchase", 20), ev(2, 2, "view", 0)],
        [ev(3, 1, "view", 10), ev(4, 2, "signup", 10), ev(5, 3, "signup", 0)],
        [ev(6, 1, "signup", 0), ev(7, 2, "purchase", 20),
         ev(8, 3, "purchase", 10)],
    ]
    d = tmp_path_factory.mktemp("funnel_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_funnel_stream_equals_batch_despite_disorder(
    spark, funnel_batches, tmp_path
):
    """The cumulative report after the last epoch equals the batch
    funnel over all events, even though stages arrived out of order
    across micro-batches (min-merge is order-free); intermediate rows
    are each exactly the batch funnel over their epoch prefix."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.funnel import (
        funnel_report,
        funnel_stage_mins,
    )
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    src = spark.read.parquet(funnel_batches + "/*.parquet")
    want = funnel_report(funnel_stage_mins(src)).collect()[0]
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (want["n_signup"], want["n_signup_view"],
          want["n_signup_view_purchase"])
    # fixture semantics: u1 full funnel (signup 0 < view 10 < buy 20),
    # u2 view precedes signup → view denied, u3 signup→buy without view
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (3, 1, 1)
    # the u1 funnel only completes once its signup arrives (epoch 2+):
    # earlier cumulative reports must NOT credit the conversion
    early = rows.iloc[0]
    assert early["n_signup_view_purchase"] == 0


def test_funnel_stream_kill_and_resume(spark, funnel_batches, tmp_path):
    """W7: stop mid-input, resume — the final cumulative report equals
    the uninterrupted run's (idempotent min-merge: a replayed epoch
    cannot move any min)."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_funnel_stream_job(
        spark, funnel_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q2)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (3, 1, 1)


@pytest.fixture(scope="module")
def funnel_window_batches(tmp_path_factory):
    """Event-time spread wide enough (minutes apart) that the 2-minute
    attribution window + 10-minute watermark finalize early users while
    the stream is still running."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, 1.0, "{}")

    files = [
        # u1 full funnel inside the window; u2 signup only
        [ev(1, 1, "signup", 0), ev(2, 1, "view", 30),
         ev(3, 1, "purchase", 60), ev(4, 2, "signup", 60)],
        # 20 minutes later: u1+u2 pass the finalization horizon here
        [ev(5, 3, "signup", 1200), ev(6, 3, "view", 1230)],
        # 40 minutes: u3 finalizes too; only u4 stays live
        [ev(7, 4, "signup", 2400), ev(8, 4, "view", 2430)],
    ]
    d = tmp_path_factory.mktemp("funnel_win_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_funnel_stream_attribution_window_finalizes_exactly(
    spark, funnel_window_batches, tmp_path
):
    """Bounded mode: finalized users leave the ledger (their outcomes
    fold into the counter row) and the cumulative report still equals
    the windowed batch funnel over all events — eviction moves truth,
    never loses it."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.funnel import (
        funnel_report,
        funnel_stage_mins,
    )
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_window_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, attribution_window="2 minutes",
    )
    drain(q)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    src = spark.read.parquet(funnel_window_batches + "/*.parquet")
    want = funnel_report(funnel_stage_mins(src), 120).collect()[0]
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (want["n_signup"], want["n_signup_view"],
          want["n_signup_view_purchase"]) == (4, 3, 1)

    # ledger: only u4 stays LIVE; finalized users compress to done
    # tombstones (timestamps nulled) next to the counter row
    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".funnel")
    pdf = led.toPandas()
    users = pdf[pdf["user_id"].notna()]
    counter = pdf[pdf["user_id"].isna()]
    live_users = users[~users["done"]]
    tombs = users[users["done"]]
    assert set(live_users["user_id"]) == {4}
    assert set(tombs["user_id"]) == {1, 2, 3}
    assert tombs[["t_signup", "t_view", "t_purchase"]].isna().all().all()
    assert len(counter) == 1
    assert (
        int(counter["f_signup"].iloc[0]),
        int(counter["f_view"].iloc[0]),
        int(counter["f_purchase"].iloc[0]),
    ) == (3, 2, 1)


def test_funnel_stream_attribution_window_kill_and_resume(
    spark, funnel_window_batches, tmp_path
):
    """W7 in bounded mode: a replayed epoch re-derives the counter row
    from the frozen prior snapshot, so counts never double."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_window_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, attribution_window="2 minutes",
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_funnel_stream_job(
        spark, funnel_window_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, attribution_window="2 minutes",
    )
    drain(q2)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (4, 3, 1)

@pytest.fixture(scope="module")
def funnel_dead_resignup_batches(tmp_path_factory):
    """u1 has a lone pre-signup view, ages past the watermark (dead
    eviction), THEN signs up and views again inside the attribution
    window. First-touch batch semantics: u1's view min stays the old
    pre-signup one, so the view must NOT be credited. u2 is the
    contrast user (same late signup+view, no poisoned history)."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, 1.0, "{}")

    files = [
        [ev(1, 1, "view", 0)],
        # 20 min later: watermark (10 min) passes u1's view → dead-evicted
        [ev(2, 9, "view", 1200)],
        [ev(3, 1, "signup", 1300), ev(4, 1, "view", 1330),
         ev(5, 2, "signup", 1300), ev(6, 2, "view", 1330)],
    ]
    d = tmp_path_factory.mktemp("funnel_dead_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_funnel_signup_after_dead_eviction(
    spark, funnel_dead_resignup_batches, tmp_path
):
    """ADVICE r4 (medium): dead eviction must not forget that a user's
    first-touch view predates any future signup. The sentinel tombstone
    denies u1's re-view exactly like the batch min does, while u2 (no
    history) is credited."""
    from data_harvesting_spark.operators.funnel import (
        funnel_report,
        funnel_stage_mins,
    )
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_dead_resignup_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, attribution_window="2 minutes",
    )
    drain(q)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    src = spark.read.parquet(funnel_dead_resignup_batches + "/*.parquet")
    want = funnel_report(funnel_stage_mins(src), 120).collect()[0]
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (want["n_signup"], want["n_signup_view"],
          want["n_signup_view_purchase"]) == (2, 1, 0)

    # the eviction path really ran: u1's ledger row carries the sentinel
    # (its view min collapsed at eviction, then re-min-merged)
    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".funnel")
    pdf = led.toPandas()
    u1 = pdf[pdf["user_id"] == 1].iloc[0]
    assert u1["t_view"] == pd.Timestamp("1970-01-01")
    assert not u1["done"]


@pytest.fixture(scope="module")
def funnel_resignup_after_final_batches(tmp_path_factory):
    """u1 completes signup→view inside the window, finalizes into the
    counter row, then signs up AGAIN with a fresh view. Batch first-touch
    keeps the original signup, so u1 must be counted exactly once."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")

    def ev(eid, uid, typ, secs):
        return (eid, base + pd.Timedelta(seconds=secs), uid, typ, 1.0, "{}")

    files = [
        [ev(1, 1, "signup", 0), ev(2, 1, "view", 30)],
        # 20 min later: u1 passes signup + window + watermark → finalized
        [ev(3, 9, "view", 1200)],
        [ev(4, 1, "signup", 1300), ev(5, 1, "view", 1330)],
    ]
    d = tmp_path_factory.mktemp("funnel_refinal_src")
    now = _time.time()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_funnel_resignup_after_finalization_counts_once(
    spark, funnel_resignup_after_final_batches, tmp_path
):
    """ADVICE r4 (medium): a second signup for an already-finalized user
    must not re-create a countable ledger row — the done tombstone
    suppresses re-entry, so the cumulative report matches batch (u1
    counted once, in the counter cells)."""
    from data_harvesting_spark.operators.funnel import (
        funnel_report,
        funnel_stage_mins,
    )
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_funnel_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_funnel_stream_job(
        spark, funnel_resignup_after_final_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, attribution_window="2 minutes",
    )
    drain(q)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    src = spark.read.parquet(
        funnel_resignup_after_final_batches + "/*.parquet"
    )
    want = funnel_report(funnel_stage_mins(src), 120).collect()[0]
    last = rows.iloc[-1]
    assert (
        last["n_signup"],
        last["n_signup_view"],
        last["n_signup_view_purchase"],
    ) == (want["n_signup"], want["n_signup_view"],
          want["n_signup_view_purchase"]) == (1, 1, 0)

    # u1's truth lives in the counter row; its ledger row is a done
    # tombstone that absorbed the re-entry
    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".funnel")
    pdf = led.toPandas()
    counter = pdf[pdf["user_id"].isna()]
    assert (
        int(counter["f_signup"].iloc[0]),
        int(counter["f_view"].iloc[0]),
    ) == (1, 1)
    u1 = pdf[pdf["user_id"] == 1].iloc[0]
    assert bool(u1["done"])


@pytest.fixture(scope="module")
def sketch_slowburn_batches(tmp_path_factory):
    """'z' is never an epoch's local #1 but is the CUMULATIVE heavy
    hitter (7 vs a=6, b=5, c=5). With cand_m=2 it enters epoch 0's
    candidate set, drops out of epoch 1's local top-2, and can only win
    the final report if the ledger persisted the full candidate heap
    rather than just the reported top_n (round-4 ADVICE)."""
    import time as _time

    base = pd.Timestamp("2026-06-01 00:00:00")
    files = [
        [("s1", 0, "user", "a a a a a a z z z z", None, base)],
        [("s2", 0, "user", "b b b b b c c c c c z z z", None,
          base + pd.Timedelta(minutes=1))],
    ]
    d = tmp_path_factory.mktemp("sketch_slow_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_sketch_ledger_keeps_full_candidate_heap(
    spark, sketch_slowburn_batches, tmp_path
):
    """A cumulatively-heavy term that never tops a single epoch must
    still win the final report: the ledger persists all cand_m
    surviving candidates, so 'z' (tracked since epoch 0's local top-2)
    survives epoch 1 — where only {b, c} are locally top-2 — and the
    cumulative re-probe crowns it."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sketch_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sketch_stream_job(
        spark, sketch_slowburn_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False, top_n=1, cand_m=2,
    )
    drain(q)
    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    assert list(rows.iloc[0]["top_terms"]) == ["a"]   # z not yet heavy
    assert list(rows.iloc[-1]["top_terms"]) == ["z"]  # cumulative winner


# ------------------------------------------------- incremental components
_LONG_A = ("the quick brown fox jumps over the lazy dog while seven "
           "wizards brew strong potions under a pale winter moon near "
           "the old stone bridge by the river bend")
_LONG_B = ("distributed query engines shuffle partitioned data across "
           "executor nodes while adaptive planners rewrite joins at "
           "runtime to exploit broadcast opportunities and skew hints")
_CHAIN_1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega aleph bet gimel dalet he vav zayin het tet yod "
            "kaf lamed mem nun samekh ayin pe tsadi qof resh shin tav")
_CHAIN_2 = _CHAIN_1.replace("kappa", "kappa2")
_CHAIN_3 = _CHAIN_2.replace("sigma", "sigma2")


@pytest.fixture(scope="module")
def components_batches(tmp_path_factory):
    """Planted duplicate clusters SPLIT ACROSS EPOCHS: {1,101,201} share
    one text arriving in three different epochs, {2,102} in two, and
    {3,103,203} form a CHAIN (each adjacent pair near-dup) whose merge
    requires re-rooting a prior epoch's component. 4/104/204 are
    singleton noise."""
    import time as _time

    files = [
        [(1, _LONG_A), (2, _LONG_B), (3, _CHAIN_1),
         (4, "one unique short document about nothing in particular at all")],
        [(101, _LONG_A), (103, _CHAIN_2),
         (104, "another singleton text with its own words entirely here")],
        [(201, _LONG_A), (102, _LONG_B), (203, _CHAIN_3),
         (204, "final noise row speaking of completely different topics")],
    ]
    d = tmp_path_factory.mktemp("components_src")
    now = _time.time()
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        pdf["lang"] = "en"
        pdf["source"] = "fixture"
        pdf["n_chars"] = pdf["text"].str.len().astype("int64")
        p = str(d / f"f{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _batch_components(spark, source_dir):
    from data_harvesting_spark.operators.dedup import (
        connected_components,
        minhash_sig_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(source_dir + "/*.parquet")
    sig = minhash_signatures(docs)
    return connected_components(minhash_sig_pairs(sig, 0.5))


def test_components_stream_equals_batch_closure(
    spark, components_batches, tmp_path
):
    """Round-4 verdict item #5: the final incremental labels equal the
    one-shot batch closure over the union of all epochs — including the
    chain cluster whose root must be re-rooted when a later epoch's
    edge arrives — and the per-epoch report tracks cluster growth."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_components_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_components_stream_job(
        spark, components_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q)

    want = _batch_components(spark, components_batches).toPandas()
    wset = set(map(tuple, want[["node", "component"]].values))
    # the fixture's planted structure really is three clusters
    assert wset == {
        (1, 1), (101, 1), (201, 1),
        (2, 2), (102, 2),
        (3, 3), (103, 3), (203, 3),
    }

    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".components")
    labs = led.where("kind = 'lab'").toPandas()
    gset = set(
        (int(r.doc_id), int(r.component)) for r in labs.itertuples()
    )
    assert gset == wset

    rows = (
        read_epoch_sink(spark, cfg.sink_path).toPandas()
        .sort_values("epoch").reset_index(drop=True)
    )
    last = rows.iloc[-1]
    assert (int(last["n_dup_nodes"]), int(last["n_clusters"])) == (8, 3)
    # epoch 0 has no cross-epoch duplicates yet
    assert int(rows.iloc[0]["n_dup_nodes"]) == 0


def test_components_stream_kill_and_resume(
    spark, components_batches, tmp_path
):
    """W7 for the components job: killing mid-stream and resuming from
    the checkpoint replays onto frozen prior snapshots — final labels
    and counts are identical to the uninterrupted run."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_components_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_components_stream_job(
        spark, components_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_components_stream_job(
        spark, components_batches, cfg,
        sink_path=cfg.sink_path, checkpoint_dir=cfg.checkpoint_dir,
        available_now=False,
    )
    drain(q2)

    want = _batch_components(spark, components_batches).toPandas()
    wset = set(map(tuple, want[["node", "component"]].values))
    led = _latest_ledger(spark, cfg.sink_path.rstrip("/") + ".components")
    labs = led.where("kind = 'lab'").toPandas()
    gset = set(
        (int(r.doc_id), int(r.component)) for r in labs.itertuples()
    )
    assert gset == wset
    rows = read_epoch_sink(spark, cfg.sink_path).toPandas()
    last = rows.sort_values("epoch").iloc[-1]
    assert (int(last["n_dup_nodes"]), int(last["n_clusters"])) == (8, 3)


def _sft_batch_reference_budget(spark, source_dir: str, budget: int):
    from data_harvesting_spark.operators.aggregates import sft_pairs_frame
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return sft_pairs_frame(t, context_turns=3, context_budget=budget).toPandas()


def test_sft_export_stream_context_budget_equals_batch(
    spark, fixture_batches, tmp_path
):
    """Round-4 verdict item #6 (trim before pack): the SFT stream with a
    context token budget equals the batch sft_pairs_frame with the same
    budget — the context_window_trim rule (longest suffix within budget,
    target always kept) applied per pair, across session closes and the
    emitted-turns carry. The budget is chosen so trimming REALLY
    happens (asserted against the untrimmed reference)."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    budget = 12
    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(
        spark, fixture_batches, cfg,
        available_now=False, context_budget=budget,
    )
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _sft_batch_reference_budget(spark, fixture_batches, budget)
    want = want[want["conv_id"] != "conv-flush"]
    assert len(got) > 0
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))

    # trimming is actually exercised: at least one pair's context is
    # shorter than the untrimmed frame's
    full = _sft_batch_reference(spark, fixture_batches)
    full = full[full["conv_id"] != "conv-flush"]
    merged = _canon_sft(want).merge(
        _canon_sft(full), on=["conv_id", "turn_idx"], suffixes=("_t", "_f")
    )
    assert (merged["context_t"] != merged["context_f"]).any()
    assert (
        merged["context_t"].str.len() <= merged["context_f"].str.len()
    ).all()


def test_sft_export_stream_context_budget_kill_and_resume(
    spark, fixture_batches, tmp_path
):
    """W7 with the budget trim active: kill mid-stream, resume — output
    equals the budgeted batch reference."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    budget = 12
    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(
        spark, fixture_batches, cfg,
        available_now=False, context_budget=budget,
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_sft_export_stream_job(
        spark, fixture_batches, cfg,
        available_now=False, context_budget=budget,
    )
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] != "conv-flush"]
    want = _sft_batch_reference_budget(spark, fixture_batches, budget)
    want = want[want["conv_id"] != "conv-flush"]
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))


# ------------------------------------------------------- CEP pattern stream
@pytest.fixture(scope="module")
def pattern_batches(tmp_path_factory):
    """Bespoke failure->retry fixture (the generator's recipes never retry
    a failed tool). Conversations cover: same-session error retry (a),
    missing-response retry (b), failure retried with a DIFFERENT tool (c,
    no match), cross-session error retry 2h apart (d), cross-session
    missing retry — the pending-outcome carry (e), ok call then same tool
    (f, no match), consecutive double failure (g, two matches), terminal
    failure with no retry (h, no match), and a beyond-watermark late
    retry (i — dropped by the stream, present in batch). conv-a's rows
    are written out of turn order inside their files (the handler sorts).
    """
    import time as _time

    base = pd.Timestamp("2026-07-10 00:00:00")

    def t(mins, secs=0):
        return base + pd.Timedelta(minutes=mins, seconds=secs)

    s2 = base + pd.Timedelta(hours=2)
    f0 = [
        # conv-a (out of order in-file): error then retry same tool
        ("conv-a", 2, "tool", "", "search", t(1)),
        ("conv-a", 0, "user", "find the report", None, t(0)),
        ("conv-a", 3, "assistant", "hmm, retrying", None, t(1, 30)),
        ("conv-a", 1, "assistant", "call search q1", "search", t(0, 30)),
        # conv-c: failure retried with a different tool -> no match
        ("conv-c", 0, "user", "run it", None, t(0)),
        ("conv-c", 1, "assistant", "call sql select", "sql", t(0, 30)),
        ("conv-c", 2, "tool", "   ", "sql", t(1)),
        ("conv-c", 3, "assistant", "call browser docs", "browser", t(1, 30)),
        ("conv-c", 4, "tool", "page text", "browser", t(2)),
        # conv-g: double failure, both retried with the same tool
        ("conv-g", 0, "user", "compute", None, t(0)),
        ("conv-g", 1, "assistant", "call sql v1", "sql", t(0, 30)),
        ("conv-g", 2, "tool", "", "sql", t(1)),
    ]
    f1 = [
        ("conv-a", 4, "user", "try again please", None, t(2)),
        ("conv-a", 5, "assistant", "call search q2", "search", t(2, 30)),
        ("conv-a", 6, "tool", "the report", "search", t(3)),
        ("conv-a", 7, "assistant", "found it", None, t(3, 30)),
        # conv-b: response dropped at source (idx 2 never exists)
        ("conv-b", 0, "user", "plot this", None, t(0)),
        ("conv-b", 1, "assistant", "call python plot", "python", t(0, 30)),
        ("conv-b", 3, "assistant", "no output, retrying", None, t(1)),
        ("conv-b", 4, "assistant", "call python plot2", "python", t(1, 30)),
        ("conv-b", 5, "tool", "figure saved", "python", t(2)),
        ("conv-g", 3, "assistant", "call sql v2", "sql", t(1, 30)),
        ("conv-g", 4, "tool", "", "sql", t(2)),
        ("conv-g", 5, "assistant", "call sql v3", "sql", t(2, 30)),
        ("conv-g", 6, "tool", "42 rows", "sql", t(3)),
        # conv-d session 1 ends on an error
        ("conv-d", 0, "user", "search the wiki", None, t(4)),
        ("conv-d", 1, "assistant", "call search wiki", "search", t(4, 30)),
        ("conv-d", 2, "tool", "", "search", t(5)),
        # conv-e session 1 ends on a call whose response never arrives
        ("conv-e", 0, "user", "open the page", None, t(4)),
        ("conv-e", 1, "assistant", "call browser open", "browser", t(4, 30)),
        # conv-f: ok call then same tool -> no match
        ("conv-f", 0, "user", "lookup", None, t(0)),
        ("conv-f", 1, "assistant", "call search a", "search", t(0, 30)),
        ("conv-f", 2, "tool", "hit", "search", t(1)),
        ("conv-f", 3, "assistant", "call search b", "search", t(1, 30)),
        ("conv-f", 4, "tool", "hit 2", "search", t(2)),
        # conv-h: terminal failure, never retried
        ("conv-h", 0, "user", "last thing", None, t(6)),
        ("conv-h", 1, "assistant", "call calculator 1+1", "calculator", t(6, 30)),
        ("conv-h", 2, "tool", "", "calculator", t(7)),
        # conv-i: failure now; its retry arrives too late (file f3)
        ("conv-i", 0, "user", "fetch", None, t(0)),
        ("conv-i", 1, "assistant", "call search z", "search", t(0, 30)),
        ("conv-i", 2, "tool", "", "search", t(1)),
    ]
    fw = [
        # watermark driver: pushes wm past session-1 end + gap BEFORE the
        # retries arrive, so conv-d/e session 1 is emitted and the carry
        # (last call + successor-if-seen) genuinely crosses the close
        ("conv-w", 0, "user", "unrelated", "flush", t(50)),
    ]
    f2 = [
        # cross-session retries, 2h after session 1 (gap 30 min)
        ("conv-d", 3, "user", "back — try the wiki again", None, s2),
        ("conv-d", 4, "assistant", "call search wiki2", "search",
         s2 + pd.Timedelta(seconds=30)),
        ("conv-d", 5, "tool", "wiki text", "search",
         s2 + pd.Timedelta(seconds=60)),
        ("conv-e", 3, "user", "still nothing?", None, s2),
        ("conv-e", 4, "assistant", "call browser open2", "browser",
         s2 + pd.Timedelta(seconds=30)),
        ("conv-e", 5, "tool", "page loaded", "browser",
         s2 + pd.Timedelta(seconds=60)),
    ]
    f3 = [
        # beyond-watermark late retry for conv-i (wm is ~s2-10min by now)
        ("conv-i", 3, "assistant", "call search z2", "search", t(2)),
        # flush row: far-future watermark driver
        ("conv-flush", 0, "user", "flush", "flush",
         s2 + pd.Timedelta(hours=12)),
    ]
    d = tmp_path_factory.mktemp("pattern_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate([f0, f1, fw, f2, f3]):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _pattern_batch_reference(spark, source_dir: str) -> pd.DataFrame:
    from data_harvesting_spark.operators.patterns import failed_retry_matches
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return failed_retry_matches(t).toPandas()


def _canon_pattern(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["conv_id", "fail_idx"]).reset_index(drop=True)
    out["fail_idx"] = out["fail_idx"].astype("int64")
    out["retry_idx"] = out["retry_idx"].astype("int64")
    return out.reindex(sorted(out.columns), axis=1)


def test_pattern_stream_equals_batch(spark, pattern_batches, tmp_path):
    """Stream matches == batch lead-window matches over the same files,
    including both cross-session retries (error and pending-missing);
    the beyond-watermark late retry (conv-i) is dropped and counted."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_pattern_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_pattern_stream_job(spark, pattern_batches, cfg,
                                 available_now=False)
    drain(q)
    # the drop is accounted on one of two channels depending on engine
    # version: Spark >= 4.1 pre-filters late events before
    # applyInPandasWithState (numRowsDroppedByWatermark); older engines
    # hand them to the handler, which drops + counts via the accumulator
    engine_dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    late_dropped = q.late_counter.value + engine_dropped
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _pattern_batch_reference(spark, pattern_batches)

    # exact expected match set (belt and braces vs the batch reference)
    expect = {
        ("conv-a", 1, 5, "search", "error"),
        ("conv-b", 1, 4, "python", "missing"),
        ("conv-d", 1, 4, "search", "error"),
        ("conv-e", 1, 4, "browser", "missing"),
        ("conv-g", 1, 3, "sql", "error"),
        ("conv-g", 3, 5, "sql", "error"),
    }
    assert set(map(tuple, want[want["conv_id"] != "conv-i"].to_numpy())) == expect
    # batch sees conv-i's late retry; the stream must have dropped it
    assert ("conv-i" == want["conv_id"]).sum() == 1
    assert "conv-i" not in set(got["conv_id"])
    assert late_dropped >= 1
    pd.testing.assert_frame_equal(
        _canon_pattern(got),
        _canon_pattern(want[want["conv_id"] != "conv-i"]),
    )


def test_pattern_stream_kill_and_resume(spark, pattern_batches, tmp_path):
    """W7 on the pattern stream: kill mid-stream, resume from checkpoint,
    final match set equals the uninterrupted reference."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_pattern_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_pattern_stream_job(spark, pattern_batches, cfg,
                                 available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_pattern_stream_job(spark, pattern_batches, cfg,
                                  available_now=False)
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _pattern_batch_reference(spark, pattern_batches)
    pd.testing.assert_frame_equal(
        _canon_pattern(got),
        _canon_pattern(want[want["conv_id"] != "conv-i"]),
    )


def test_pattern_pdf_composable_prefixes(spark):
    """The pandas detector emits the same matches however the finalized
    prefix is sliced (per-close composition == one-shot), and the carry
    is always the last call + its successor-if-seen."""
    from data_harvesting_spark.operators.patterns import (
        EMPTY_PATTERN_CARRY,
        failed_retry_pdf,
    )

    turns = pd.DataFrame(
        {
            "conv_id": ["c"] * 8,
            "turn_idx": pd.array([0, 1, 2, 3, 4, 5, 7, 8], dtype="int32"),
            "role": ["user", "assistant", "tool", "assistant",
                     "assistant", "tool", "assistant", "assistant"],
            "text": ["q", "call search", "", "retrying",
                     "call search 2", "ok then", "call sql", "call sql 2"],
            "tool": [None, "search", "search", None,
                     "search", "search", "sql", "sql"],
        }
    )
    one_shot, _ = failed_retry_pdf(turns, EMPTY_PATTERN_CARRY.copy())
    for cut in range(1, len(turns)):
        a, b = turns.iloc[:cut], turns.iloc[cut:]
        m1, carry = failed_retry_pdf(a, EMPTY_PATTERN_CARRY.copy())
        m2, _ = failed_retry_pdf(b, carry)
        combined = pd.concat([m1, m2], ignore_index=True)
        pd.testing.assert_frame_equal(
            _canon_pattern(combined), _canon_pattern(one_shot), \
            obj=f"cut={cut}"
        )
    # sanity on the one-shot content: search error retried at 4; the sql
    # call at 7 has no turn 8 response (8 is another call) -> missing,
    # retried by 8
    assert set(map(tuple, one_shot.to_numpy())) == {
        ("c", 1, 4, "search", "error"),
        ("c", 7, 8, "sql", "missing"),
    }


@pytest.fixture(scope="module")
def sft_post_close_resume_batches(tmp_path_factory):
    """Like sft_two_session_batches, but a watermark-driver file sits
    BETWEEN the sessions, so session 1 is emitted (gap timeout) before
    any session-2 turn exists — the resumption then depends on the carry
    surviving the close (the r5 retention-clock fix; previously the
    state was removed and session 2 started contextless)."""
    import time as _time

    base = pd.Timestamp("2026-07-02 00:00:00")
    s2 = base + pd.Timedelta(hours=2)
    files = [
        [
            ("conv-y", 0, "user", "how do I sort a table", None, base),
            ("conv-y", 1, "assistant", "use ORDER BY", None,
             base + pd.Timedelta(seconds=20)),
            ("conv-y", 2, "user", "and partition it", None,
             base + pd.Timedelta(seconds=40)),
            ("conv-y", 3, "assistant", "PARTITION BY works", None,
             base + pd.Timedelta(seconds=60)),
        ],
        # watermark driver: wm passes session-1 end + gap long before the
        # resumption below arrives, so session 1 closes via gap timeout
        [("conv-wmdrv", 0, "user", "unrelated", "flush",
          base + pd.Timedelta(minutes=50))],
        [
            ("conv-y", 4, "user", "back again: what about windows", None, s2),
            ("conv-y", 5, "assistant", "frame with ROWS BETWEEN", None,
             s2 + pd.Timedelta(seconds=20)),
        ],
        [("conv-flush", 0, "user", "flush", "flush",
          s2 + pd.Timedelta(hours=12))],
    ]
    d = tmp_path_factory.mktemp("sft_resume_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate(files):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def test_sft_export_carry_survives_session_close(
    spark, sft_post_close_resume_batches, tmp_path
):
    """r5 exactness fix: session 1 is fully emitted (watermark passed its
    end + gap) BEFORE any session-2 turn arrives; the retained carry must
    still supply turns 2,3,4 as turn 5's context, exactly as the batch
    whole-conversation frame — and the whole output must equal batch."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_sft_export_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_sft_export_stream_job(spark, sft_post_close_resume_batches,
                                    cfg, available_now=False)
    drain(q)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    got = got[got["conv_id"] == "conv-y"]
    want = _sft_batch_reference(spark, sft_post_close_resume_batches)
    want = want[want["conv_id"] == "conv-y"]
    t5 = got[got["turn_idx"] == 5]
    assert len(t5) == 1
    assert t5["context"].iloc[0] == (
        "user: and partition it\n"
        "assistant: PARTITION BY works\n"
        "user: back again: what about windows"
    )
    pd.testing.assert_frame_equal(_canon_sft(got), _canon_sft(want))


# --------------------------------------------- CEP absence/timeout stream
def test_timeout_matches_batch_semantics(spark):
    """Batch absence-pattern semantics: in-time -> no match; late ->
    'late' with the real wait; response hole / non-tool successor /
    terminal call -> 'absent' with NULL wait. Plan: ONE conv_id
    exchange."""
    from data_harvesting_spark.operators.patterns import timeout_matches

    base = pd.Timestamp("2026-07-10 00:00:00")

    def t(mins, secs=0):
        return base + pd.Timedelta(minutes=mins, seconds=secs)

    rows = [
        # ok: answered in 30s
        ("ok", 0, "user", "q", None, t(0)),
        ("ok", 1, "assistant", "call search", "search", t(0, 30)),
        ("ok", 2, "tool", "hit", "search", t(1)),
        # late: answered after 45 min (> 30 min timeout)
        ("late", 0, "user", "q", None, t(0)),
        ("late", 1, "assistant", "call sql", "sql", t(0, 30)),
        ("late", 2, "tool", "rows", "sql", t(45, 30)),
        # hole: idx 2 dropped at source, idx 3 exists
        ("hole", 0, "user", "q", None, t(0)),
        ("hole", 1, "assistant", "call browser", "browser", t(0, 30)),
        ("hole", 3, "assistant", "giving up", None, t(1)),
        # interrupt: idx 2 exists but is a user turn
        ("intr", 0, "user", "q", None, t(0)),
        ("intr", 1, "assistant", "call calc", "calc", t(0, 30)),
        ("intr", 2, "user", "never mind", None, t(1)),
        # terminal: call is the conversation's last turn
        ("term", 0, "user", "q", None, t(0)),
        ("term", 1, "assistant", "call python", "python", t(0, 30)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf)
    out = timeout_matches(df, 1800)
    got = {
        (r.conv_id, r.call_idx, r.tool, r.status, r.wait_us)
        for r in out.collect()
    }
    assert got == {
        ("late", 1, "sql", "late", 45 * 60 * 1_000_000),
        ("hole", 1, "browser", "absent", None),
        ("intr", 1, "calc", "absent", None),
        ("term", 1, "python", "absent", None),
    }
    # after execution the AQE plan string repeats the exchange in its
    # "Initial Plan" echo — count the final plan only
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.fixture(scope="module")
def timeout_batches(tmp_path_factory):
    """Bespoke absence-pattern fixture (timeout 30 min, watermark 10 min).
    Covers: in-time answer (conv-a, no alert), late answer arriving with
    the response (conv-b1, alert on arrival), deadline firing BEFORE the
    late answer arrives (conv-b2, exactly one alert; the answer itself is
    then beyond-watermark and dropped), non-tool successor (conv-c, alert
    on arrival), terminal unanswered call (conv-d, alert at deadline via
    timer), response arriving BEFORE its call across files (conv-e, no
    alert), and an in-time answer delivered beyond the watermark
    (conv-f: stream alerts at the deadline, batch sees the answer and
    stays silent — the documented late-data divergence, counted)."""
    import time as _time

    base = pd.Timestamp("2026-07-10 00:00:00")

    def t(mins, secs=0):
        return base + pd.Timedelta(minutes=mins, seconds=secs)

    f0 = [
        ("conv-a", 0, "user", "find it", None, t(0)),
        ("conv-a", 1, "assistant", "call search", "search", t(0, 30)),
        ("conv-a", 2, "tool", "hit", "search", t(1)),
        ("conv-b1", 0, "user", "query", None, t(0)),
        ("conv-b1", 1, "assistant", "call sql", "sql", t(0, 30)),
        ("conv-d", 0, "user", "open it", None, t(0)),
        ("conv-d", 1, "assistant", "call browser", "browser", t(0, 30)),
        # conv-e: the response lands in this file, its call in the next
        ("conv-e", 2, "tool", "plot saved", "python", t(2)),
        ("conv-f", 0, "user", "add", None, t(0)),
        ("conv-f", 1, "assistant", "call adder", "adder", t(1)),
    ]
    f1 = [
        ("conv-e", 0, "user", "plot", None, t(1)),
        ("conv-e", 1, "assistant", "call python", "python", t(1, 30)),
        # conv-b1's answer: 45 min after the call -> late, alert NOW
        ("conv-b1", 2, "tool", "rows", "sql", t(45, 30)),
        # conv-c: call interrupted by the user -> absent, alert NOW
        ("conv-c", 0, "user", "calc", None, t(40)),
        ("conv-c", 1, "assistant", "call calc", "calc", t(40, 30)),
        ("conv-c", 2, "user", "never mind", None, t(41)),
        # conv-b2: unanswered for now; deadline 80.5 min
        ("conv-b2", 0, "user", "query2", None, t(50)),
        ("conv-b2", 1, "assistant", "call sql2", "sql", t(50, 30)),
    ]
    fw = [
        # watermark driver: wm -> ~190 min, past every pending deadline
        ("conv-w", 0, "user", "flush", None, t(200)),
    ]
    f3 = [
        # conv-b2's answer, late by event time AND beyond the watermark:
        # the alert already fired at the deadline; this row must be
        # dropped, not double-emitted (batch alerts b2 too — wait > 30m)
        ("conv-b2", 2, "tool", "rows2", "sql", t(95)),
        # conv-f's answer was IN TIME by event time (wait 19 min) but is
        # delivered beyond the watermark: dropped -> stream/batch diverge
        ("conv-f", 2, "tool", "sum", "adder", t(20)),
        ("conv-flush", 0, "user", "flush", None, t(300)),
    ]
    d = tmp_path_factory.mktemp("timeout_src")
    now = _time.time()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    for i, rows in enumerate([f0, f1, fw, f3]):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        p = str(d / f"f{i}.parquet")
        write_parquet_us(pdf, p)
        os.utime(p, (now + i, now + i))
    return str(d)


def _timeout_batch_reference(spark, source_dir: str) -> pd.DataFrame:
    from data_harvesting_spark.operators.patterns import timeout_matches
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    return (
        timeout_matches(t, 1800)
        .select("conv_id", "call_idx", "tool", "call_us")
        .toPandas()
    )


def _canon_timeout(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["conv_id", "call_idx"]).reset_index(drop=True)
    out["call_idx"] = out["call_idx"].astype("int64")
    out["call_us"] = out["call_us"].astype("int64")
    return out.reindex(sorted(out.columns), axis=1)


def test_timeout_stream_equals_batch(spark, timeout_batches, tmp_path):
    """Stream alerts == the batch absence-match set (projected to the
    alert columns), each emitted exactly once — including conv-b2, whose
    deadline fires before its late answer arrives. conv-f is the
    documented divergence: its in-time answer was delivered beyond the
    watermark (dropped + counted), so the stream alerts where batch does
    not."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_timeout_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_timeout_stream_job(spark, timeout_batches, cfg,
                                 available_now=False)
    drain(q)
    engine_dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    late_dropped = q.late_counter.value + engine_dropped
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _timeout_batch_reference(spark, timeout_batches)

    base_us = int(pd.Timestamp("2026-07-10 00:00:00").value // 1000)

    def us(mins, secs=0):
        return base_us + (mins * 60 + secs) * 1_000_000

    expect = {
        ("conv-b1", 1, "sql", us(0, 30)),
        ("conv-b2", 1, "sql", us(50, 30)),
        ("conv-c", 1, "calc", us(40, 30)),
        ("conv-d", 1, "browser", us(0, 30)),
    }
    assert set(map(tuple, want.to_numpy())) == expect
    # exactly-once on conv-b2 despite deadline + late-answer double path
    assert (got["conv_id"] == "conv-b2").sum() == 1
    # the stream additionally alerts conv-f (its answer was late-dropped)
    assert set(map(tuple, got.to_numpy())) == expect | {
        ("conv-f", 1, "adder", us(1))
    }
    assert late_dropped >= 2  # conv-b2's and conv-f's dropped answers


def test_timeout_stream_kill_and_resume(spark, timeout_batches, tmp_path):
    """W7 on the timeout stream: kill mid-stream, resume from checkpoint,
    final alert set identical (idempotent epoch sink + versioned state)."""
    import time

    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_timeout_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    q = start_timeout_stream_job(spark, timeout_batches, cfg,
                                 available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        if sum(p["numInputRows"] > 0 for p in q.recentProgress) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    q2 = start_timeout_stream_job(spark, timeout_batches, cfg,
                                  available_now=False)
    drain(q2)
    got = read_epoch_sink(spark, cfg.sink_path).toPandas()
    want = _timeout_batch_reference(spark, timeout_batches)
    want = pd.concat(
        [want, got[got["conv_id"] == "conv-f"].iloc[0:0]], ignore_index=True
    )
    expect = set(map(tuple, want.to_numpy())) | {
        t for t in map(tuple, got.to_numpy()) if t[0] == "conv-f"
    }
    assert set(map(tuple, got.to_numpy())) == expect
    assert (got.groupby(["conv_id", "call_idx"]).size() == 1).all()
