"""Batch runner for the sessionized curate pipeline (kernel-backed).

The ``single-shot.py`` analog (reference E2): the pandas kernel applied
per conversation group — the batch reference the streaming curate job is
checked against. One shuffle on conv_id; Arrow-batched pandas per group.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from data_harvesting_spark.config import HarvestConfig
from data_harvesting_spark.functions.text import text_hash
from data_harvesting_spark.operators.kernel import (
    _EMPTY,
    curate_sessions_frame,
    session_id_array,
)
from data_harvesting_spark.schema import CURATED_SCHEMA


def parse_duration_seconds(s: str) -> float:
    """'30 minutes' / '10 seconds' / '1 hour' → seconds."""
    n, unit = s.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit]
    return float(n) * mult


def curate_sessions(transcripts: DataFrame, cfg: HarvestConfig | None = None) -> DataFrame:
    """transcripts → curated pairs keyed (conv_id, window_start), one
    window per gap-bounded session."""
    cfg = cfg or HarvestConfig()
    gap_s = parse_duration_seconds(cfg.session_gap)
    t = transcripts.withColumn("text_hash", text_hash("text"))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return _EMPTY.copy()
        pdf, sids = session_id_array(pdf, gap_s)
        return curate_sessions_frame(pdf, sids, cfg)

    return t.groupBy("conv_id").applyInPandas(fn, CURATED_SCHEMA)
