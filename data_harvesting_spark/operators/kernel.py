"""The per-conversation curate kernel — the batch reference
implementation (``operators/curate_sessions.py``:
groupBy(conv_id).applyInPandas(kernel)) that the declarative pipeline
(``operators/curate.py``) and the streaming curate job
(``streaming/pipeline.py``) are tested against: two independent
implementations of one semantics.

The kernel itself is pandas-vectorized: dedup via hash `duplicated()`,
as-of call↔response pairing via `merge_asof(by=tool)`, first-response-wins
via `drop_duplicates`, cap via `head()`. Only the suppression>0 path is a
bounded greedy loop (inherently sequential — reference
`services/harvest_service.py:207-231`), bounded by the emission cap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from data_harvesting_spark.config import HarvestConfig

_EMPTY = pd.DataFrame(
    {
        "conv_id": pd.Series(dtype="object"),
        "window_start": pd.Series(dtype="datetime64[us]"),
        "example_idx": pd.Series(dtype="int32"),
        "call_turn_idx": pd.Series(dtype="int32"),
        "response_turn_idx": pd.Series(dtype="int32"),
        "tool": pd.Series(dtype="object"),
        "call_text": pd.Series(dtype="object"),
        "response_text": pd.Series(dtype="object"),
        "text_hash": pd.Series(dtype="int64"),
    }
)


def curate_sessions_frame(
    pdf: pd.DataFrame,
    session_ids: np.ndarray,
    cfg: HarvestConfig,
) -> pd.DataFrame:
    """Vectorized curate over ALL of one conversation's sessions at once.

    ``session_ids`` aligns positionally with ``pdf``. One pandas pass for
    the whole conversation instead of a Python loop per session — the
    per-group Python overhead is per-conversation, not per-session.

    Expects columns conv_id, turn_idx, role, text, tool, ts and text_hash
    (precomputed JVM-side with xxhash64); any extra columns are ignored.
    Semantics (identical to operators/curate.py's declarative pipeline;
    dedup/correlation are always per session):
      1. stable order (session, turn_idx)
      2. dedup turns by text_hash within session, keep first
      3. response pairs with most recent preceding call of same tool
      4. first response per call wins
      5. both texts non-empty
      6. suppression sweep / emission cap / min gate / stable numbering at
         ``cfg.cap_scope``: "conversation" (reference semantics — one
         cumulative budget and numbering across the conversation's sessions
         in time order, `/root/reference/services/harvest_service.py:175`)
         or "session" (each session independent).
    """
    if len(pdf) == 0:
        return _EMPTY.copy()
    pdf = pdf.assign(_sid=session_ids).sort_values(
        ["_sid", "turn_idx"], kind="mergesort"
    )
    conv_id = pdf["conv_id"].iloc[0]
    win_start = pdf.groupby("_sid")["ts"].transform("min")
    pdf = pdf.assign(_ws=win_start)

    # 2. dedup within session (NaN hashes — null text — group together,
    # matching SQL PARTITION BY null-grouping semantics)
    pdf = pdf[~pdf.duplicated(subset=["_sid", "text_hash"], keep="first")]

    is_call = (pdf["role"] == cfg.call_role) & pdf["tool"].notna()
    is_resp = (pdf["role"] == cfg.response_role) & pdf["tool"].notna()
    calls = pdf[is_call]
    resps = pdf[is_resp]
    if len(calls) == 0 or len(resps) == 0:
        return _EMPTY.copy()

    # 3. as-of per (session, tool): most recent preceding call
    merged = pd.merge_asof(
        resps[["_sid", "_ws", "turn_idx", "tool", "text", "text_hash"]]
        .rename(columns={"turn_idx": "response_turn_idx", "text": "response_text"})
        .sort_values("response_turn_idx", kind="mergesort")
        .assign(_on=lambda d: d["response_turn_idx"].astype("int64")),
        calls[["_sid", "turn_idx", "tool", "text"]]
        .rename(columns={"turn_idx": "call_turn_idx", "text": "call_text"})
        .sort_values("call_turn_idx", kind="mergesort")
        .assign(_on=lambda d: d["call_turn_idx"].astype("int64")),
        on="_on",
        by=["_sid", "tool"],
        direction="backward",
        allow_exact_matches=False,
    ).drop(columns="_on")
    merged = merged[merged["call_turn_idx"].notna()]
    if len(merged) == 0:
        return _EMPTY.copy()

    # 4. first response per call (per session)
    merged = merged.sort_values("response_turn_idx", kind="mergesort")
    merged = merged.drop_duplicates(subset=["_sid", "call_turn_idx"], keep="first")

    # 5. condition: both sides non-empty
    ok = (
        merged["call_text"].notna()
        & (merged["call_text"].str.strip().str.len() > 0)
        & merged["response_text"].notna()
        & (merged["response_text"].str.strip().str.len() > 0)
    )
    merged = merged[ok]

    # order by call for numbering/cap (matches curate.py window order)
    merged = merged.sort_values(
        ["_sid", "call_turn_idx", "response_turn_idx"], kind="mergesort"
    )

    conv_scope = cfg.cap_scope == "conversation"

    # 6a. suppression sweep (response-turn spacing), bounded by cap —
    # inherently sequential (reference services/harvest_service.py:207-231);
    # loop only on this config path. Conversation scope: ONE cursor across
    # sessions (turn_idx is conversation-global and time-monotone across
    # sessions, so the cursor carries); session scope: reset per session.
    if cfg.suppress_turns_after_emit > 0:
        keep_rows = []
        cur_sid, suppress_until, emitted = None, -1, 0
        for idx, sid, resp_idx in zip(
            merged.index,
            merged["_sid"].to_numpy(),
            merged["response_turn_idx"].to_numpy(),
        ):
            if not conv_scope and sid != cur_sid:
                cur_sid, suppress_until, emitted = sid, -1, 0
            if resp_idx <= suppress_until:
                continue
            if cfg.max_pairs_per_conv and emitted >= cfg.max_pairs_per_conv:
                continue
            keep_rows.append(idx)
            emitted += 1
            suppress_until = resp_idx + cfg.suppress_turns_after_emit
        merged = merged.loc[keep_rows]
    elif cfg.max_pairs_per_conv:
        if conv_scope:
            merged = merged.head(cfg.max_pairs_per_conv)
        else:
            merged = merged.groupby("_sid").head(cfg.max_pairs_per_conv)

    if cfg.min_pairs_per_conv > 1:
        # conversation scope: gate on the whole conversation's pair count
        if conv_scope:
            if len(merged) < cfg.min_pairs_per_conv:
                merged = merged.iloc[0:0]
        else:
            sizes = merged.groupby("_sid")["_sid"].transform("size")
            merged = merged[sizes >= cfg.min_pairs_per_conv]

    n = len(merged)
    if n == 0:
        return _EMPTY.copy()
    example_idx = (
        np.arange(n, dtype=np.int32)
        if conv_scope
        else merged.groupby("_sid").cumcount().to_numpy("int32")
    )
    return pd.DataFrame(
        {
            "conv_id": np.repeat(conv_id, n),
            "window_start": merged["_ws"].to_numpy(),
            "example_idx": example_idx,
            "call_turn_idx": merged["call_turn_idx"].astype("int32").to_numpy(),
            "response_turn_idx": merged["response_turn_idx"].astype("int32").to_numpy(),
            "tool": merged["tool"].to_numpy(),
            "call_text": merged["call_text"].to_numpy(),
            "response_text": merged["response_text"].to_numpy(),
            "text_hash": merged["text_hash"].astype("int64").to_numpy(),
        }
    )


def session_id_array(
    pdf: pd.DataFrame, gap_seconds: float
) -> tuple[pd.DataFrame, np.ndarray]:
    """Gap-based session assignment for one conversation: returns
    (ts-sorted frame, aligned session-id array). Vectorized cumsum over
    event-time gaps — no per-session Python."""
    pdf = pdf.sort_values(["ts", "turn_idx"], kind="mergesort")
    ts = pdf["ts"].to_numpy()
    # STRICT > matches JVM session_window semantics: each event spans
    # [ts, ts + gap) and Spark merges windows that touch (next.start <=
    # prev.end), so an event at EXACTLY last + gap stays in the same
    # session — pinned empirically by the exact-boundary conv ("mc-b") in
    # tests/test_streaming.py::test_conversation_cap_parity_all_paths
    gaps = np.diff(ts) > np.timedelta64(int(gap_seconds * 1_000_000), "us")
    return pdf, np.concatenate([[0], np.cumsum(gaps)])


def split_sessions(pdf: pd.DataFrame, gap_seconds: float) -> list[pd.DataFrame]:
    """Split one conversation's turns into gap-bounded sessions by event
    time (sorted by ts, ties by turn_idx). Used by the streaming state
    handler to detect which buffered sessions the watermark has closed."""
    if len(pdf) == 0:
        return []
    pdf, session_ids = session_id_array(pdf, gap_seconds)
    return [pdf[session_ids == s] for s in range(session_ids[-1] + 1)]
