"""Benchmark harness (driver contract + scaling evidence).

Default mode — what the per-round driver runs:
    python bench.py
Runs the headline catalog queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the ``noop`` sink so the full physical
plan executes (scan → shuffle → agg → projection) without driver-side
collect overhead — the honest throughput shape, not a ``count()`` that
Catalyst could partially prune.

Scaling mode — the BASELINE.json north_rule's two-cluster-size criterion
evidenced in-sandbox (no real cluster; see BENCH.md):
    python bench.py --scaling [n_turns]
Generates a deterministic synthetic transcript table Spark-side
(``spark.range`` + column expressions — executor-parallel, no driver loop),
then runs the identical flagship curate job at local[N] and local[4N]
(N defaults to a quarter of the host's cores) and reports throughput at
both plus efficiency ``(T_N/T_4N)/4``.

Cores default to ``$SPARK_GRAFT_CPUS``, else the host's ``os.cpu_count()``;
the driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` (default 8g, session.py) and
scratch files go where Spark puts them (``SPARK_LOCAL_DIRS``, else /tmp).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Headline set: flagship + one representative per operator family
# (SURVEY §2). The stateful pandas kernel (curate_sessions_kernel) is
# benchmarked separately in scaling mode; it dominates wall-clock and
# would drown the relational signal here.
HEADLINE = [
    "curate_pairs",            # flagship M1 pipeline
    "assemble_conversation",   # A7 collect-list session assembly
    "sessionize",              # W1 gap-based session ids
    "harvest_rates_tool",      # W4 tumbling-window rates
    "harvest_rates_role_sliding",  # W4 sliding-window rates
    "suppression_sweep",       # P10 stateful sweep (pandas UDF path)
    "salted_tool_counts",      # skew-safe two-phase aggregate
    "exists_forall",           # P5/P6 quantifier predicates
    "topk_tools",              # A5 top-k per group
    "run_report",              # A13 JSON rollup
    "tpch_q1",                 # relational agg baseline
    "orders_by_nation",        # broadcast-join baseline
    "minhash_lsh_dups",        # MinHash+LSH near-dup (documents)
    "doc_quality",             # text quality scoring
    "cosine_topk",             # brute-force ANN baseline (embeddings)
]


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_sample() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from /proc/stat line 1."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return total, idle, steal


def host_idle_probe(seconds: float = 1.0) -> dict:
    """Idle/steal percentages over a short pre-run window — recorded in
    the artifact so rounds can separate plan changes from host-load luck
    (round-4 verdict item #7: BENCH.md prose carried this, the JSON now
    does too)."""
    a = _cpu_sample()
    time.sleep(seconds)
    return _host_window(a, _cpu_sample())


def _host_window(a: tuple, b: tuple) -> dict:
    dt = (b[0] - a[0]) or 1
    return {
        "idle_pct": round(100 * (b[1] - a[1]) / dt, 1),
        "steal_pct": round(100 * (b[2] - a[2]) / dt, 1),
    }


def run_headline() -> dict:
    import __spark_entry__ as entrymod
    from data_harvesting_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    idle_before = host_idle_probe()
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # untimed warmup: JVM JIT + codegen + parquet footer caches, so the
    # first timed query isn't charged one-time startup cost
    _noop_write(qs["tpch_q1"](spark, sf_dir))

    # best-of-2 per query: the box's bursty hypervisor steal (BENCH.md
    # "Method") can double any single pass; two interleaved passes with a
    # per-query minimum estimate steady-state the same way the scaling
    # protocol's interleaved rounds do. Plans are identical across passes
    # (same session, same query objects), so this is noise damping only.
    # BOTH raw passes are recorded in the artifact (r3 ADVICE: the
    # round-1/2 series was single-pass; pass 1 here bridges it).
    cpu_a = _cpu_sample()
    per_pass: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(2):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.perf_counter()
            _noop_write(fn(spark, sf_dir))
            per_pass[name].append(round(time.perf_counter() - t0, 3))
    timings = {name: min(ts) for name, ts in per_pass.items()}
    cpu_b = _cpu_sample()

    # curated-turns/sec: input transcript turns / flagship wall time
    # (BASELINE.json metric). Input size measured once, outside the timing.
    from data_harvesting_spark.derive import load_transcripts_from_events

    n_turns = load_transcripts_from_events(spark, sf_dir).count()
    turns_per_sec = round(n_turns / timings["curate_pairs"], 1)

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = sf_dir
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_per_pass": per_pass,
        "pass1_total": round(sum(ts[0] for ts in per_pass.values()), 3),
        "sf": sf,
        "cpus": int(cpus) if str(cpus).isdigit() else cpus,
        "input_turns": n_turns,
        "curated_turns_per_sec": turns_per_sec,
        "host": {
            "idle_before": idle_before,
            "during": _host_window(cpu_a, cpu_b),
        },
    }
    spark.stop()
    return result


# --------------------------------------------------------------------------
# Scaling mode: local[N] vs local[4N] on the same generated input
# --------------------------------------------------------------------------

SCALE_DATA = "/tmp/dhs_bench_transcripts"


def generate_scale_input(n_turns: int, out_dir: str = SCALE_DATA) -> str:
    """Deterministic transcript table generated executor-parallel.

    spark.range → pure column expressions (no driver loop, no Python UDF):
    ~40 turns/conv, role/tool shape by turn position, ~1% hot-conversation
    skew so the salted paths have something to chew on.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_harvesting_spark.session import get_spark

    marker = os.path.join(out_dir, "_N_TURNS")
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        try:
            if int(open(marker).read()) == n_turns:
                return out_dir
        except (OSError, ValueError):
            pass
        shutil.rmtree(out_dir, ignore_errors=True)  # stale: different n
    spark = get_spark("bench-gen")
    spark.sparkContext.setLogLevel("ERROR")
    turns_per_conv = 40
    df = (
        spark.range(0, n_turns, 1, 64)
        .withColumn(
            "conv_nr",
            # ~2% of turns land in one hot conversation (skew fixture)
            F.when(F.col("id") % 50 == 0, F.lit(0)).otherwise(
                (F.col("id") / turns_per_conv).cast("long")
            ),
        )
        .withColumn("conv_id", F.concat(F.lit("conv-"), F.col("conv_nr")))
        .withColumn(
            "turn_idx",
            (F.row_number().over(Window.partitionBy("conv_nr").orderBy("id"))
             - 1).cast("int"),
        )
        .withColumn(
            "role",
            F.when(F.col("turn_idx") % 4 == 0, "user")
            .when(F.col("turn_idx") % 4 == 2, "tool")
            .otherwise("assistant"),
        )
        .withColumn(
            "tool",
            F.when(
                F.col("turn_idx") % 4 == 1,
                F.element_at(
                    F.array(*[F.lit(t) for t in
                              ["search", "browser", "python", "calculator", "sql"]]),
                    (F.col("id") % 5 + 1).cast("int"),
                ),
            ).when(
                F.col("turn_idx") % 4 == 2,
                F.element_at(
                    F.array(*[F.lit(t) for t in
                              ["search", "browser", "python", "calculator", "sql"]]),
                    ((F.col("id") - 1) % 5 + 1).cast("int"),
                ),
            ),
        )
        .withColumn(
            "text",
            F.when(F.col("id") % 17 == 0, F.lit(""))
            .when(F.col("id") % 13 == 0,
                  F.concat(F.lit("duplicate payload "), F.col("id") % 7))
            .otherwise(
                F.concat(
                    F.lit("turn "), F.col("id") % 101, F.lit(" payload "),
                    F.sha2(F.col("id").cast("string"), 256),
                )
            ),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1767225600) + F.col("id") % 86400),
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    df.write.mode("overwrite").parquet(out_dir)
    with open(marker, "w") as f:
        f.write(str(n_turns))
    spark.stop()
    return out_dir


def _curate_timed(cores: int, data_dir: str, shuffle_partitions: int = 128) -> float:
    """One timed curate run at local[cores]; session startup excluded.

    Shuffle partitions are FIXED across parallelism levels: the cluster
    criterion varies executor count under one plan, and an asymmetric
    partition count per leg (the old cores×2) gave the high leg 2 task
    waves prone to straggler imbalance — measured 0.74 → 0.84 raw 2→8
    efficiency from equalizing alone (BENCH.md round-2 experiment).
    Round 3 raised the fixed count 32 → 128 with AQE coalescing active:
    finer tasks pack waves better on BOTH legs (measured +5–7% absolute
    throughput each, head-to-head interleaved) while efficiency is
    unchanged (0.758 vs 0.760 in the same windows) — the same
    partitions ≫ cores posture a real cluster runs with.
    """
    from data_harvesting_spark.config import HarvestConfig
    from data_harvesting_spark.operators.curate import curate
    from data_harvesting_spark.session import get_spark

    spark = get_spark(
        f"bench-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = spark.read.parquet(data_dir)
    t.count()  # warm file listing + footers; not part of the timed job
    t0 = time.perf_counter()
    _noop_write(curate(t, HarvestConfig()))
    dt = time.perf_counter() - t0
    spark.stop()
    return dt


def run_scaling(n_turns: int, lo_cores: int | None = None,
                rounds: int = 4) -> dict:
    """N vs 4N cores on identical input (north_rule scaling criterion).

    The sandbox VM has bursty hypervisor steal, so the two levels are
    measured INTERLEAVED round-by-round in one warm JVM (both sample the
    same noise windows) and the per-level minimum is the steady-state
    estimate. Round 0 is JIT warmup.
    """
    lo_cores = lo_cores or max(1, (os.cpu_count() or 4) // 4)
    hi_cores = lo_cores * 4
    shutil.rmtree(SCALE_DATA, ignore_errors=True)
    idle_before = host_idle_probe()
    data_dir = generate_scale_input(n_turns)
    cpu_a = _cpu_sample()
    lo_times: list[float] = []
    hi_times: list[float] = []
    for _ in range(rounds):
        lo_times.append(_curate_timed(lo_cores, data_dir))
        hi_times.append(_curate_timed(hi_cores, data_dir))
    cpu_b = _cpu_sample()
    lo_sec, hi_sec = min(lo_times), min(hi_times)
    eff = round((lo_sec / hi_sec) / 4, 3)
    # each round's legs run back-to-back (~a minute apart) and so share a
    # noise window — the per-round ratios show the spread the min-pairing
    # headline hides (round 0 is JIT/page-cache warmup; read it skeptically)
    per_round = [round((l / h) / 4, 3) for l, h in zip(lo_times, hi_times)]
    return {
        "metric": "curated_turns_per_sec_scaling",
        "value": round(n_turns / hi_sec, 1),
        "unit": "turns/sec",
        "n_turns": n_turns,
        f"local{lo_cores}": {
            "sec": round(lo_sec, 2),
            "all_runs_sec": [round(x, 2) for x in lo_times],
            "turns_per_sec": round(n_turns / lo_sec, 1),
        },
        f"local{hi_cores}": {
            "sec": round(hi_sec, 2),
            "all_runs_sec": [round(x, 2) for x in hi_times],
            "turns_per_sec": round(n_turns / hi_sec, 1),
        },
        f"scaling_efficiency_{lo_cores}_to_{hi_cores}": eff,
        "per_round_eff": per_round,
        "host": {
            "idle_before": idle_before,
            "during": _host_window(cpu_a, cpu_b),
        },
    }


def run_streaming(
    n_turns: int, cores: int | None = None, n_slices: int = 8,
    mode: str = "session_window", cap_scope: str = "conversation",
) -> dict:
    """End-to-end STREAMING curated-turns/sec (BASELINE.json metric shape):
    generated transcript slices → checkpointed streaming job → idempotent
    epoch sink, run to completion with availableNow. ``mode``:
    "session_window" (the curate job), or the pattern / timeout / dedup /
    neardup / sketch job on the same input.

    Known tail artifact of finite-input benching: sessions ending within
    ``gap + watermark_delay`` of the stream's max event time cannot close,
    because the watermark never passes them. On Spark 4.1.2 availableNow
    runs one no-data batch after the last data batch, so every session the
    final watermark does pass is closed and curated. Finite replays wanting
    complete output add a far-future flush event (tests and perfbench do);
    throughput, the metric here, is unaffected either way."""
    import tempfile

    from data_harvesting_spark.config import HarvestConfig
    from data_harvesting_spark.session import get_spark

    cores = cores or os.cpu_count() or 1
    data_dir = generate_scale_input(n_turns)
    # re-slice into n_slices files so the run is a multi-batch stream.
    # shuffle partitions = cores exactly: each extra partition is another
    # RocksDB state-store instance opened+committed per micro-batch
    spark = get_spark(f"bench-stream-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    src = tempfile.mkdtemp(prefix="dhs_stream_src_")
    _slice_for_replay(spark, data_dir, src, n_slices)

    from data_harvesting_spark.streaming.pipeline import (
        start_curate_job_session_window,
        start_dedup_stream_job,
        start_neardup_stream_job,
        start_pattern_stream_job,
        start_sketch_stream_job,
        start_timeout_stream_job,
    )

    if mode in ("pattern", "timeout"):
        job = {
            "pattern": start_pattern_stream_job,
            "timeout": start_timeout_stream_job,
        }[mode]

        def starter(spark, src, cfg, available_now):
            return job(spark, src, cfg, available_now=available_now)
    elif mode in ("dedup", "neardup", "sketch"):
        job = {
            "dedup": start_dedup_stream_job,
            "neardup": start_neardup_stream_job,
            "sketch": start_sketch_stream_job,
        }[mode]

        def starter(spark, src, cfg, available_now):
            return job(
                spark, src, cfg,
                sink_path=cfg.sink_path,
                checkpoint_dir=cfg.checkpoint_dir,
                available_now=available_now,
            )
    elif mode == "session_window":
        starter = start_curate_job_session_window
    else:
        raise ValueError(f"unknown stream mode {mode!r}")
    work = tempfile.mkdtemp(prefix="dhs_stream_run_")
    cfg = HarvestConfig(
        session_gap="30 minutes",
        watermark_delay="10 minutes",
        sink_format="epoch",
        sink_path=os.path.join(work, "curated"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        cap_scope=cap_scope,
        # generator gap is 1s per turn (50s in the hot conversation):
        # 30s means the hot conversation's calls alert, the rest resolve
        # silently — both handler paths exercised at volume
        response_timeout="30 seconds",
    )
    t0 = time.perf_counter()
    q = starter(spark, src, cfg, available_now=True)
    q.awaitTermination()
    dt = time.perf_counter() - t0
    from data_harvesting_spark.streaming.sink import read_epoch_sink

    n_out = read_epoch_sink(spark, cfg.sink_path).count()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    spark.stop()
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "metric": "streaming_curated_turns_per_sec",
        "value": round(n_turns / dt, 1),
        "unit": "turns/sec",
        "mode": mode,
        "cap_scope": cap_scope,
        "n_turns": n_turns,
        "cores": cores,
        "sec": round(dt, 2),
        "curated_rows": n_out,
        "data_batches": n_batches,
    }


def run_ceiling(lo_cores: int = 2, rounds: int = 3) -> dict:
    """Machine-ceiling calibration (BENCH.md): pure whole-stage-codegen CPU
    (no shuffle/sort/disk) at N vs 4N threads — the best any job can scale
    on this box. Interleaved rounds, best-of-N."""
    from pyspark.sql import functions as F

    from data_harvesting_spark.session import get_spark

    hi_cores = lo_cores * 4
    res: dict[int, list[float]] = {}
    for _ in range(rounds):
        for cores in (lo_cores, hi_cores):
            spark = get_spark(f"ceiling-{cores}", master=f"local[{cores}]",
                              shuffle_partitions=8)
            spark.sparkContext.setLogLevel("ERROR")
            t0 = time.perf_counter()
            spark.range(0, 2_000_000_000, 1, cores * 8).select(
                F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1000)))
            ).collect()
            res.setdefault(cores, []).append(time.perf_counter() - t0)
            spark.stop()
    lo, hi = min(res[lo_cores]), min(res[hi_cores])
    return {
        "metric": "pure_cpu_scaling_ceiling",
        "value": round((lo / hi) / 4, 3),
        "unit": "efficiency",
        f"local{lo_cores}_sec": round(lo, 2),
        f"local{hi_cores}_sec": round(hi, 2),
    }


def _slice_for_replay(spark, data_dir: str, out_dir: str, n_slices: int) -> None:
    """Lay a transcript table out as n_slices event-time-ordered parquet
    files with increasing mtimes — the replay layout every streaming
    job/bench consumes (micro-batch per file). Slices must be (roughly)
    event-time ordered or the advancing watermark would drop later
    slices' rows as late; file order is forced via modtimes."""
    import glob as _glob

    spark.read.parquet(data_dir).repartitionByRange(n_slices, "ts").write.mode(
        "overwrite"
    ).parquet(out_dir)
    now = time.time()
    for i, p in enumerate(sorted(_glob.glob(os.path.join(out_dir, "part-*")))):
        os.utime(p, (now + i, now + i))


def prepare_stream_source(n_turns: int, out_dir: str, n_slices: int = 8) -> str:
    """Generate n_turns transcripts and slice them for replay
    (``_slice_for_replay``) in a dedicated session."""
    from data_harvesting_spark.session import get_spark

    data_dir = generate_scale_input(n_turns)
    spark = get_spark("bench-src")
    spark.sparkContext.setLogLevel("ERROR")
    _slice_for_replay(spark, data_dir, out_dir, n_slices)
    spark.stop()
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--prepare-src":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
        out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/dhs_submit_src_big"
        print(prepare_stream_source(n, out))
    elif len(sys.argv) > 1 and sys.argv[1] == "--ceiling":
        lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
        print(json.dumps(run_ceiling(lo)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 24_000_000
        lo = int(sys.argv[3]) if len(sys.argv) > 3 else None
        rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 4
        print(json.dumps(run_scaling(n, lo_cores=lo, rounds=rounds)))
    elif len(sys.argv) > 1 and sys.argv[1] == "--stream":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
        cores = int(sys.argv[3]) if len(sys.argv) > 3 else None
        mode = sys.argv[4] if len(sys.argv) > 4 else "session_window"
        scope = sys.argv[5] if len(sys.argv) > 5 else "conversation"
        print(json.dumps(run_streaming(n, cores, mode=mode, cap_scope=scope)))
    else:
        print(json.dumps(run_headline()))
