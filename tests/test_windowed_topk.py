"""Per-window top-k finalized on watermark close
(`start_windowed_topk_stream_job`) and its batch twin
(`topk_tools_windowed`, oracle value-parity via the full-catalog sweep).
Pins stream==batch ranking parity (including deterministic tie order),
the all-groups-flush-together property the per-batch rank relies on,
and checkpoint kill-resume exactly-once.
"""

from __future__ import annotations

import time as _time

import pandas as pd
from pyspark.sql import functions as F

from tests.test_streaming import _cfg, fixture_batches  # noqa: F401


def _batch_topk(spark, source_dir, k=3):
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(source_dir + "/*.parquet")
    from pyspark.sql import Window

    counts = (
        t.where(F.col("tool").isNotNull() & (F.col("tool") != "flush"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "tool")
        .agg(F.count("*").alias("turn_count"))
        .select(
            F.col("w.start").alias("window_start"), "tool", "turn_count"
        )
    )
    rank_w = Window.partitionBy("window_start").orderBy(
        F.desc("turn_count"), "tool"
    )
    return {
        (r.window_start, r.tool, r.turn_count, r.rnk)
        for r in counts.withColumn("rnk", F.row_number().over(rank_w))
        .where(F.col("rnk") <= k)
        .collect()
    }


def test_windowed_topk_stream_equals_batch(spark, fixture_batches, tmp_path):
    """The stream's finalized per-window top-3 equals the batch twin's
    ranking on the same input — count ties broken identically. The
    flush heartbeat's own window never closes (excluded both sides)."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_windowed_topk_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    sink = str(tmp_path / "topk")
    q = start_windowed_topk_stream_job(
        spark, fixture_batches, cfg, sink, str(tmp_path / "topk_ckpt"),
        available_now=False,
    )
    drain(q)
    rows = read_epoch_sink(spark, sink).collect()
    got = {
        (r.window_start, r.tool, r.turn_count, r.rnk)
        for r in rows
        if r.tool != "flush"
    }
    assert got == _batch_topk(spark, fixture_batches)
    assert got  # fixture exercises the shape
    # rank is dense-complete per emitted window: 1..min(k, n_tools)
    per_w: dict = {}
    for _, (w, _t, _c, rnk) in enumerate(got):
        per_w.setdefault(w, []).append(rnk)
    for w, rnks in per_w.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1)), (w, rnks)
    # the per-batch rank is only sound if a window's groups flush in ONE
    # epoch — assert no window spans two sink epochs (read the raw
    # _epoch partitioning; read_epoch_sink drops it)
    raw = spark.read.option("basePath", sink).parquet(sink + "/_epoch=*")
    epochs = {}
    for r in raw.select("window_start", "_epoch").collect():
        epochs.setdefault(r.window_start, set()).add(r._epoch)
    assert all(len(e) == 1 for e in epochs.values()), epochs


def test_windowed_topk_kill_and_resume(spark, fixture_batches, tmp_path):
    """W7: stop mid-replay, resume from checkpoint — identical final
    top-k set, no duplicate (window, rank) slots."""
    from data_harvesting_spark.streaming.pipeline import (
        drain,
        start_windowed_topk_stream_job,
        stop,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    cfg = _cfg(str(tmp_path))
    sink = str(tmp_path / "topk")
    ckpt = str(tmp_path / "topk_ckpt")
    q = start_windowed_topk_stream_job(
        spark, fixture_batches, cfg, sink, ckpt, available_now=False
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if any((p.get("numInputRows") or 0) > 0 for p in q.recentProgress):
            break
        _time.sleep(0.3)
    stop(q)

    q2 = start_windowed_topk_stream_job(
        spark, fixture_batches, cfg, sink, ckpt, available_now=False
    )
    drain(q2)
    rows = [r for r in read_epoch_sink(spark, sink).collect()
            if r.tool != "flush"]
    slots = [(r.window_start, r.rnk) for r in rows]
    assert len(slots) == len(set(slots))  # exactly-once per rank slot
    got = {(r.window_start, r.tool, r.turn_count, r.rnk) for r in rows}
    assert got == _batch_topk(spark, fixture_batches)


def test_topk_tools_windowed_batch_brute(spark):
    """Catalog twin at sf0.001: brute-force recount + re-rank in Python
    over the derived transcripts."""
    from data_harvesting_spark.derive import load_transcripts_from_events
    from data_harvesting_spark.plans.catalog import spark_queries

    from tests.conftest import SF_SMOKE

    df = spark_queries()["topk_tools_windowed"](spark, SF_SMOKE)
    t = load_transcripts_from_events(spark, SF_SMOKE).collect()
    counts: dict = {}
    for r in t:
        if r.tool is None:
            continue
        w = int(pd.Timestamp(r.ts).timestamp() // 3600 * 3600)
        counts[(w, r.tool)] = counts.get((w, r.tool), 0) + 1
    want = set()
    by_w: dict = {}
    for (w, tool), c in counts.items():
        by_w.setdefault(w, []).append((tool, c))
    for w, items in by_w.items():
        items.sort(key=lambda tc: (-tc[1], tc[0]))
        for i, (tool, c) in enumerate(items[:3], start=1):
            want.add((w, tool, c, i))
    got = {(r.window_start_s, r.tool, r.turn_count, r.rnk)
           for r in df.collect()}
    assert got == want
    assert got
