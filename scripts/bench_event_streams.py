"""Throughput bench for the EVENT-stream jobs (the transcript-stream
jobs live in bench.py --stream): synthetic event log -> n_slices
event-time-ordered parquet files -> job run to completion with
availableNow -> events/sec.

Protocol matches the round-4 funnel bench (BENCH.md): 4M rows, 200k
users, 5 event types, 8 slices; cores default to the host's
``os.cpu_count()`` (the round-4 figures were local[32]).

Usage: python scripts/bench_event_streams.py [n_rows] [cores] [jobs...]
Jobs: quantile scd2 followups outerjoin slidinghll funnel dq enrich
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def generate_events(spark, n_rows: int, out: str, n_slices: int) -> None:
    """Deterministic synthetic event log, event-time ordered slices.
    ~20 events/user, 1-minute stride, value log-uniform-ish from the
    hash (all integer arithmetic — replay-stable)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            (
                F.lit("2026-01-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.col("id") % 86400 * 60 % 2592000)
            ).alias("ts"),
            (F.xxhash64("id") % 200_000).alias("user_id"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("signup"),
                    F.lit("purchase"), F.lit("error"),
                ),
                (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (
                F.pmod(F.xxhash64("id", F.lit(2)), F.lit(100_000)) / 100.0
            ).alias("value"),
            F.lit("{}").alias("props"),
        )
        .withColumn("user_id", F.abs("user_id"))
    )
    # event-time ordered slices so the watermark never drops the tail
    df = df.withColumn(
        "slice",
        F.ntile(n_slices).over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("ts", "event_id")
        ),
    )
    for i in range(1, n_slices + 1):
        df.where(F.col("slice") == i).drop("slice").coalesce(4).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"slice={i}"))
    # flatten: the file-stream source reads *.parquet under one dir
    j = 0
    for i in range(1, n_slices + 1):
        d = os.path.join(out, f"slice={i}")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                p = os.path.join(out, f"f{j:04d}.parquet")
                shutil.move(os.path.join(d, f), p)
                os.utime(p, (time.time() + j, time.time() + j))
                j += 1
        shutil.rmtree(d)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else os.cpu_count() or 1
    jobs = sys.argv[3:] or ["quantile", "scd2", "followups", "slidinghll"]
    # "dq" joins the default set once benched; pass it explicitly

    from data_harvesting_spark.session import get_spark

    spark = get_spark(
        f"bench-events-{cores}", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = tempfile.mkdtemp(prefix="dhs_event_src_")
    generate_events(spark, n_rows, src, n_slices=8)

    from data_harvesting_spark.streaming.pipeline import (
        start_dq_monitor_stream_job,
        start_enrich_stream_job,
        start_followups_stream_job,
        start_funnel_stream_job,
        start_quantile_sketch_stream_job,
        start_scd2_stream_job,
        start_sliding_hll_stream_job,
        start_unmatched_errors_stream_job,
    )
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    for job in jobs:
        work = tempfile.mkdtemp(prefix=f"dhs_event_run_{job}_")
        sink = os.path.join(work, "sink")
        ckpt = os.path.join(work, "ckpt")
        t0 = time.perf_counter()
        if job == "quantile":
            q = start_quantile_sketch_stream_job(spark, src, sink, ckpt)
        elif job == "scd2":
            q = start_scd2_stream_job(
                spark, src, sink, ckpt, watermark_delay="10 minutes"
            )
        elif job == "followups":
            q = start_followups_stream_job(
                spark, src, sink, ckpt, upper_us=5 * 60 * 1_000_000,
                watermark="30 minutes",
            )
        elif job == "outerjoin":
            # left-outer twin of followups: same window/watermark; under
            # availableNow the unmatched rows of each already-closed
            # horizon flush in the NEXT data batch, so only the final
            # watermark window's absences stay buffered (documented
            # holdback) — output_rows = matched pairs + flushed absences
            q = start_unmatched_errors_stream_job(
                spark, src, sink, ckpt, upper_us=5 * 60 * 1_000_000,
                watermark="30 minutes",
            )
        elif job == "slidinghll":
            q = start_sliding_hll_stream_job(
                spark, src, sink, ckpt, window="7 days", slide="1 day",
                watermark_delay="1 hour",
            )
        elif job == "dq":
            q = start_dq_monitor_stream_job(spark, src, sink, ckpt)
        elif job == "enrich":
            from pyspark.sql import functions as F

            dim = os.path.join(work, "dim")
            spark.createDataFrame(
                [(t, f"LBL_{t.upper()}", 1)
                 for t in ["view", "click", "signup", "purchase", "error"]],
                "event_type string, label string, dim_version int",
            ).coalesce(1).write.mode("overwrite").parquet(dim)
            t0 = time.perf_counter()  # exclude dim setup
            q = start_enrich_stream_job(spark, src, dim, sink, ckpt)
        elif job == "funnel":
            from data_harvesting_spark.config import HarvestConfig

            cfg = HarvestConfig(
                session_gap="30 minutes", watermark_delay="10 minutes",
                sink_format="epoch", sink_path=sink, checkpoint_dir=ckpt,
            )
            q = start_funnel_stream_job(spark, src, cfg, sink, ckpt)
        else:
            raise SystemExit(f"unknown job {job}")
        q.awaitTermination()
        dt = time.perf_counter() - t0
        n_out = read_epoch_sink(spark, sink).count()
        print(json.dumps({
            "job": job, "n_rows": n_rows, "cores": cores,
            "sec": round(dt, 2),
            "events_per_sec": round(n_rows / dt, 1),
            "output_rows": n_out,
        }))
        shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
