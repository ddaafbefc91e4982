"""Deterministic synthetic transcript generator (FIXTURES.md F1).

Seeded, pure numpy/pandas → pyarrow parquet; no Spark needed to generate.
Every FIXTURES.md shape (1–12) is emitted with fixed proportions so each
SURVEY §2 operator has fixture coverage:

  1 happy-pair        6 empty-text
  2 multi-tool        7 exact-count
  3 orphan-call       8 long-session cap (>max_pairs qualifying pairs)
  4 orphan-response   9 burst-then-quiet (suppression)
  5 dup-turns        10 late-turns (within / beyond watermark)
 11 hot-conv skew    12 session-gap split

The generator is the engine's own fixture source for streaming / parity
tests; the DuckDB-oracle checks instead derive transcripts from the driver's
``events`` table (see derive.py) so both engines compute from the same
parquet bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TOOLS = ["search", "browser", "python", "calculator", "sql"]
BASE_TS = pd.Timestamp("2026-01-01 00:00:00")

# per-conversation recipe mix (shape -> weight); deterministic via seed
RECIPES = [
    ("happy_pair", 30),
    ("multi_tool", 20),
    ("orphan_call", 8),
    ("orphan_response", 6),
    ("dup_turns", 10),
    ("empty_text", 8),
    ("exact_count", 8),
    ("long_session", 2),
    ("burst_quiet", 4),
    ("late_turns", 2),
    ("gap_split", 2),
]


def _words(rng: np.random.Generator, n: int) -> str:
    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "the", "and", "of",
        "query", "result", "data", "tool", "answer",
    ]
    return " ".join(rng.choice(vocab, size=n))


def _conv(rng: np.random.Generator, conv_id: str, recipe: str, t0: pd.Timestamp):
    """Yield (conv_id, turn_idx, role, text, tool, ts) rows for one conversation."""
    rows = []
    idx = 0
    ts = t0

    def add(role, text, tool=None, dt_s=30):
        nonlocal idx, ts
        rows.append((conv_id, idx, role, text, tool, ts))
        idx += 1
        ts = ts + pd.Timedelta(seconds=dt_s)

    def pair(tool, call_text=None, resp_text=None):
        add("user", _words(rng, 6))
        add("assistant", call_text or f"call {tool} {_words(rng, 4)}", tool)
        add("tool", resp_text or f"result {_words(rng, 8)}", tool)
        add("assistant", _words(rng, 10))

    if recipe == "happy_pair":
        pair(rng.choice(TOOLS))
    elif recipe == "multi_tool":
        for tool in rng.choice(TOOLS, size=rng.integers(2, 5), replace=False):
            pair(tool)
    elif recipe == "orphan_call":
        add("user", _words(rng, 5))
        add("assistant", f"call search {_words(rng, 3)}", "search")
        # no response turn ever arrives
    elif recipe == "orphan_response":
        add("user", _words(rng, 5))
        add("tool", f"result {_words(rng, 6)}", "search")  # no preceding call
        add("assistant", _words(rng, 7))
    elif recipe == "dup_turns":
        dup = "duplicate payload alpha bravo"
        add("user", dup)
        add("assistant", "call search q", "search")
        add("tool", dup, "search")
        add("tool", "  DUPLICATE   payload ALPHA bravo ", "search")  # ws/case variant
        add("user", dup)  # exact dup
        add("assistant", _words(rng, 5))
    elif recipe == "empty_text":
        add("user", _words(rng, 4))
        add("assistant", "call python x", "python")
        add("tool", "", "python")  # empty response → P6 forall fails
        add("assistant", None)
    elif recipe == "exact_count":
        k = 3  # exactly 3 assistant turns
        add("user", _words(rng, 4))
        for _ in range(k):
            add("assistant", _words(rng, 6))
    elif recipe == "long_session":
        for i in range(120):  # > default cap of 100 pairs
            add("assistant", f"call sql step {i}", "sql", dt_s=5)
            add("tool", f"result step {i} {_words(rng, 3)}", "sql", dt_s=5)
    elif recipe == "burst_quiet":
        for i in range(12):  # tight qualifying run → suppression fixtures
            add("assistant", f"call search burst {i}", "search", dt_s=1)
            add("tool", f"result burst {i}", "search", dt_s=1)
        add("user", _words(rng, 4), dt_s=300)
    elif recipe == "late_turns":
        pair("browser")
        # late arrival: event-time ~2 min back (within watermark) and one
        # far back (beyond a 10-min watermark). arrival order is encoded by
        # row order when replayed in slices (F5).
        rows.append((conv_id, idx, "user", "late within", None, ts - pd.Timedelta("2 minutes")))
        idx += 1
        rows.append((conv_id, idx, "user", "late beyond", None, ts - pd.Timedelta("45 minutes")))
        idx += 1
    elif recipe == "gap_split":
        pair("search")
        ts = ts + pd.Timedelta("2 hours")  # > session gap → second window
        pair("python")
    return rows


def generate_transcripts(
    n_convs: int = 100, seed: int = 42, hot_conv: bool = True
) -> pd.DataFrame:
    """Deterministic transcript table. ~10–20 turns/conv average."""
    rng = np.random.default_rng(seed)
    names = [r for r, _ in RECIPES]
    weights = np.array([w for _, w in RECIPES], dtype=float)
    weights /= weights.sum()
    all_rows = []
    for c in range(n_convs):
        recipe = rng.choice(names, p=weights)
        t0 = BASE_TS + pd.Timedelta(minutes=int(rng.integers(0, 24 * 60)))
        all_rows.extend(_conv(rng, f"conv-{c:06d}", recipe, t0))
    if hot_conv and n_convs >= 10:
        # shape 11: one conv_id carrying ~20% of all turns (skew fixture)
        target = max(len(all_rows) // 4, 40)
        t0 = BASE_TS
        hot = []
        idx = 0
        while len(hot) < target:
            hot.append((f"conv-hot", idx, "assistant", f"call search hot {idx}", "search", t0))
            idx += 1
            hot.append((f"conv-hot", idx, "tool", f"result hot {idx}", "search", t0 + pd.Timedelta(seconds=1)))
            idx += 1
            t0 = t0 + pd.Timedelta(seconds=20)
        all_rows.extend(hot)
    df = pd.DataFrame(
        all_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"])
    return df


def write_parquet_us(df: pd.DataFrame, path: str) -> str:
    """Write parquet with microsecond timestamps (Spark can't read the
    pandas-default nanosecond INT64 as TimestampType)."""
    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and df[c].isna().all():
            # all-null object columns would be written as parquet NULL
            # (INT32 physical) which Spark can't read as string
            df[c] = df[c].astype("string")
    df.to_parquet(path, index=False)
    return path


def write_batches(dirpath: str, n_convs: int = 100, seed: int = 42, n_batches: int = 8):
    """F5 streaming-replay layout: ordered micro-batch slices.

    Arrival order models a real stream: globally (near-)event-time ordered,
    in-order within each conversation. arrival_ts = running max of ts per
    conversation, so the deliberately-late shapes (late-turns recipe) still
    arrive late relative to the global watermark while everything else is
    in order. Without this, random conversation interleaving makes the
    advancing watermark drop whole conversations — unrealistic input, not
    an engine property.
    """
    os.makedirs(dirpath, exist_ok=True)
    df = generate_transcripts(n_convs=n_convs, seed=seed)
    arrival = df.groupby("conv_id")["ts"].cummax()
    order = np.lexsort((df["turn_idx"].to_numpy(), arrival.to_numpy()))
    df = df.iloc[order].reset_index(drop=True)
    slices = np.array_split(np.arange(len(df)), n_batches)
    paths = []
    for i, sl in enumerate(slices):
        p = os.path.join(dirpath, f"batch-{i:03d}.parquet")
        write_parquet_us(df.iloc[sl], p)
        paths.append(p)
    return paths
