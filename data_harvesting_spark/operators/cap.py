"""P9 emission cap + P10 post-emission suppression (batch formulation).

Reference semantics (`/root/reference/services/harvest_service.py:175-176,
207-208,227-231`): per video, stop after MAX_NUMBER_OF_PREDICTIONS emitted
frames, and after each emit skip the next FRAMES_SKIP_AFTER_DETECT frames.

The cap alone is order-independent → window row_number (curate.py). The
suppression sweep is a genuinely sequential scan per key — no window
function expresses "skip k after each *kept* row" because keeps depend on
prior keeps. It runs as an ``applyInPandas`` per-conversation sweep:
Arrow-batched, grouped by the same conv_id hash partitioning every other
operator uses, with a tight numpy loop only over each group's qualifying
rows (bounded by the cap, so O(cap) per key regardless of conversation
length — the 100 TB-safe property). The streaming curate job starts each
conversation's sweep from the cursor carried in its cap ledger
(streaming/pipeline.py::_cap_with_ledger).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_harvesting_spark.config import HarvestConfig


def _sweep_group(
    pdf: pd.DataFrame, order_col: str | list[str], max_emit: int, suppress: int
) -> pd.DataFrame:
    """order_col: sort key(s); the LAST one is the suppression index.

    Optional per-group cursor columns ``_emitted0`` / ``_sup0`` (constant
    within a group) start the sweep from a carried state — used by the
    session-window runner's cross-batch ledger (conversation-scope P9/P10
    across micro-batches)."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    if len(pdf) == 0:
        return pdf
    pdf = pdf.sort_values(order_cols, kind="mergesort")
    order = pdf[order_cols[-1]].to_numpy()
    keep = []
    emitted = int(pdf["_emitted0"].iloc[0]) if "_emitted0" in pdf.columns else 0
    suppress_until = int(pdf["_sup0"].iloc[0]) if "_sup0" in pdf.columns else -1
    for i, idx in enumerate(order):
        if idx <= suppress_until:
            continue
        if max_emit and emitted >= max_emit:
            break
        keep.append(i)
        emitted += 1
        if suppress:
            suppress_until = idx + suppress
    return pdf.iloc[keep]


def suppress_and_cap(
    qualifying: DataFrame,
    cfg: HarvestConfig,
    key: str | list[str] = "conv_id",
    order_col: str | list[str] = "turn_idx",
) -> DataFrame:
    """Greedy emit-then-suppress sweep over qualifying rows per key
    (single column or composite, e.g. ``["conv_id", "window_start"]``).

    With ``cfg.suppress_turns_after_emit == 0`` this degenerates to the
    pure cap and is equivalent to the window formulation in curate.py
    (tested for parity).
    """
    keys = [key] if isinstance(key, str) else list(key)
    max_emit = cfg.max_pairs_per_conv
    suppress = cfg.suppress_turns_after_emit
    schema = qualifying.schema

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _sweep_group(pdf, order_col, max_emit, suppress)

    return qualifying.groupBy(*keys).applyInPandas(fn, schema=schema)


def cap_only(qualifying: DataFrame, cfg: HarvestConfig) -> DataFrame:
    """Order-independent P9 formulation (pure window) for comparison."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        qualifying.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cfg.max_pairs_per_conv)
        .drop("_rn")
    )
