"""spark-submit entry point for the streaming curate job (north_rule).

Usage (the package ships as a --py-files zip, NOT via repo-relative
sys.path — this is the cluster deployment shape):

    spark-submit --master local[8] \
        --py-files /tmp/dhs_pkg.zip \
        scripts/submit_curate.py \
        --source /path/to/batches --workdir /tmp/run1 [--stream]

Batch mode runs the flagship curate over the source as one job; --stream
runs the checkpointed Structured Streaming pipeline (exactly-once epoch
sink) to completion. Prints one JSON summary line either way.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="parquet dir of transcripts")
    ap.add_argument("--workdir", required=True, help="sink + checkpoint root")
    ap.add_argument("--stream", action="store_true", help="streaming mode")
    ap.add_argument("--gap", default="30 minutes")
    ap.add_argument("--watermark", default="10 minutes")
    args = ap.parse_args()

    # Import AFTER spark-submit has put the --py-files zip on sys.path —
    # proves the package is cluster-shippable with no repo checkout.
    from pyspark.sql import SparkSession

    from data_harvesting_spark.config import HarvestConfig
    from data_harvesting_spark.schema import TRANSCRIPT_SCHEMA

    spark = SparkSession.builder.appName("dhs-curate").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    t0 = time.time()
    if args.stream:
        from data_harvesting_spark.streaming.pipeline import (
            drain,
            start_curate_job_session_window,
        )
        from data_harvesting_spark.streaming.sink import read_epoch_sink

        cfg = HarvestConfig(
            session_gap=args.gap,
            watermark_delay=args.watermark,
            sink_format="epoch",
            sink_path=os.path.join(args.workdir, "curated"),
            checkpoint_dir=os.path.join(args.workdir, "ckpt"),
        )
        q = start_curate_job_session_window(
            spark, args.source, cfg, available_now=False
        )
        # deployment runs are throughput-sized (multi-minute legs at low
        # core counts) — drain's default 180 s deadline would silently
        # truncate them; idle detection still ends the run promptly
        drain(q, timeout=3600.0)
        n = read_epoch_sink(spark, cfg.sink_path).count()
        mode = "stream"
    else:
        from data_harvesting_spark.config import HarvestConfig
        from data_harvesting_spark.operators.curate import curate

        t = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.source)
        out = curate(t, HarvestConfig())
        out.write.mode("overwrite").parquet(os.path.join(args.workdir, "curated"))
        n = spark.read.parquet(os.path.join(args.workdir, "curated")).count()
        mode = "batch"
    dt = time.time() - t0

    n_in = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(args.source).count()
    print(
        json.dumps(
            {
                "job": "dhs-curate",
                "mode": mode,
                "cores": cores,
                "input_turns": n_in,
                "curated_rows": n,
                "sec": round(dt, 2),
                "turns_per_sec": round(n_in / dt, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
