"""Property-based tests (hypothesis) for the sequential kernels — the
operators whose correctness is NOT pinned by a SQL oracle because they are
genuinely imperative: the P9/P10 sweep and gap sessionization. Each is
checked against an obviously-correct brute-force reference over randomized
inputs, including carried-cursor starts (the streaming cap-ledger path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from data_harvesting_spark.operators.cap import _sweep_group
from data_harvesting_spark.operators.kernel import session_id_array


def _brute_sweep(indexes, max_emit, suppress, emitted0=0, sup0=-1):
    kept = []
    emitted, until = emitted0, sup0
    for idx in sorted(indexes):
        if idx <= until:
            continue
        if max_emit and emitted >= max_emit:
            break
        kept.append(idx)
        emitted += 1
        if suppress:
            until = idx + suppress
    return kept


@settings(max_examples=300, deadline=None)
@given(
    idxs=st.lists(st.integers(0, 80), min_size=0, max_size=40, unique=True),
    max_emit=st.integers(0, 10),
    suppress=st.integers(0, 10),
    emitted0=st.integers(0, 12),
    sup0=st.integers(-1, 90),
)
def test_sweep_group_matches_bruteforce(idxs, max_emit, suppress, emitted0, sup0):
    pdf = pd.DataFrame({"turn_idx": idxs})
    pdf["_emitted0"] = emitted0
    pdf["_sup0"] = sup0
    got = _sweep_group(pdf, "turn_idx", max_emit, suppress)["turn_idx"].tolist()
    want = _brute_sweep(idxs, max_emit, suppress, emitted0, sup0)
    assert got == want


def _pair_frame(n_pairs: int, spacing: int = 4) -> pd.DataFrame:
    base = pd.Timestamp("2026-01-01")
    rows = []
    for p in range(n_pairs):
        t0 = p * spacing
        rows.append(("k1", t0, "assistant", f"call {p}", "search",
                     base + pd.Timedelta(seconds=20 * p), 100 + 2 * p))
        rows.append(("k1", t0 + 1, "tool", f"result {p}", "search",
                     base + pd.Timedelta(seconds=20 * p + 10), 101 + 2 * p))
    return pd.DataFrame(
        rows,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "text_hash"],
    )


def test_carry_cursor_reflects_only_emitted_rows(spark, tmp_path):
    """r2 ADVICE: the conversation-scope suppression cursor must be
    committed AFTER the min gate — if the gate withholds every pair, the
    cap ledger's carried ``suppress_until`` keeps its prior value instead
    of recording spacing for rows that were never emitted, and the
    withheld pairs wait in the pending pool."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.config import HarvestConfig
    from data_harvesting_spark.streaming.pipeline import _cap_with_ledger

    pdf = _pair_frame(2).drop(columns="text_hash")
    pdf["window_start"] = pdf["ts"].min()
    turns = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )

    def epoch0(cfg, ledger_path):
        curated = _cap_with_ledger(turns, cfg, 0, ledger_path)
        out = curated.toPandas()
        curated.unpersist()
        snap = spark.read.parquet(ledger_path + "/_epoch=0").toPandas()
        return out, snap[["emitted", "suppress_until"]].values.tolist()

    # gate fails (2 pairs < min 5): nothing emitted, cursor untouched
    cfg = HarvestConfig(
        suppress_turns_after_emit=2, min_pairs_per_conv=5, max_pairs_per_conv=10
    )
    gated = str(tmp_path / "gated")
    out, cursor = epoch0(cfg, gated)
    assert len(out) == 0
    assert cursor == [[0, -1]], "cursor leaked from gated-away rows"
    assert spark.read.parquet(gated + ".pending/_epoch=0").count() == 2

    # gate passes (2 >= min 2): cursor records the last emitted response
    cfg2 = HarvestConfig(
        suppress_turns_after_emit=2, min_pairs_per_conv=2, max_pairs_per_conv=10
    )
    out2, cursor2 = epoch0(cfg2, str(tmp_path / "passed"))
    assert len(out2) == 2
    assert cursor2 == [[2, int(out2["response_turn_idx"].max()) + 2]]


@settings(max_examples=200, deadline=None)
@given(
    ts_offsets=st.lists(st.integers(0, 50_000), min_size=1, max_size=40),
    gap_s=st.integers(1, 5_000),
)
def test_session_id_array_matches_bruteforce(ts_offsets, gap_s):
    base = pd.Timestamp("2026-01-01")
    pdf = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(seconds=o) for o in ts_offsets],
            "turn_idx": np.arange(len(ts_offsets), dtype="int32"),
        }
    )
    out, sids = session_id_array(pdf, float(gap_s))
    # brute force: strict > split on the sorted event times (JVM
    # session_window merges touching windows — see operators/kernel.py)
    ts_sorted = sorted(ts_offsets)
    want = [0]
    for prev, cur in zip(ts_sorted, ts_sorted[1:]):
        want.append(want[-1] + (1 if (cur - prev) > gap_s else 0))
    assert sids.tolist() == want
    # ids are non-decreasing and the frame is time-ordered
    assert (np.diff(sids) >= 0).all()
    assert out["ts"].is_monotonic_increasing


@given(
    n_words=st.integers(min_value=0, max_value=400),
    chunk_words=st.integers(min_value=2, max_value=80),
    stride_frac=st.floats(min_value=0.25, max_value=1.0),
)
@settings(max_examples=200, deadline=None)
def test_chunk_layout_matches_bruteforce(n_words, chunk_words, stride_frac):
    """The integer chunk-count arithmetic in chunk_documents (k_max =
    ceil((n - W)/stride) via (n - W + stride - 1) div stride) produces the
    canonical overlapping-window tiling for every (n, W, stride): chunks
    start at k*stride, all but the last are full, the last ends exactly at
    word n, and every word is covered."""
    stride = max(1, int(chunk_words * stride_frac))
    # brute force: slide until the window end reaches n
    want = []
    k = 0
    while True:
        start = k * stride
        if n_words == 0 or (k > 0 and start + chunk_words - stride >= n_words):
            break
        end = min(start + chunk_words, n_words)
        want.append((k, start, end))
        if end == n_words:
            break
        k += 1
    # the implementation's closed form
    if n_words == 0:
        k_max = None
    elif n_words <= chunk_words:
        k_max = 0
    else:
        k_max = (n_words - chunk_words + stride - 1) // stride
    got = []
    if k_max is not None:
        for k in range(k_max + 1):
            start = k * stride
            end = min(start + chunk_words, n_words)
            got.append((k, start, end))
    assert [g[1:] for g in got] == [w[1:] for w in want] or got == want, (
        n_words, chunk_words, stride, got, want
    )
    if got:
        assert got[-1][2] == n_words          # coverage reaches the end
        assert all(e - s == chunk_words for _, s, e in got[:-1])
        assert got[0][1] == 0
