"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload catalog|stream_curate|stream_scd2 \
        --seed N --seconds S --trace 0|1 [--cores K]

Run from the root of a checkout. The process stages its seeded input under
``.perfbench_tmp/`` in the checkout (deleted at exit), starts one Spark
session with pinned settings, runs an untimed warm-up pass, then timed
passes until ``--seconds`` have elapsed, then checks the outputs against
DuckDB. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
settling pass, then alternates untraced and traced passes (at least four)
and reports the per-layer metrics plus the tracing overhead. A failed
check makes the run exit with code 1. ``--cores`` changes ``local[k]`` for
reference runs only.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark settings pinned for every run (never taken from the environment).
# --cores overrides the core count for reference figures (local[1] runs).
CORES = min(4, os.cpu_count() or 1)
# Spark's own default heap size. The heap is committed and touched at JVM
# start (-Xms = -Xmx, AlwaysPreTouch): otherwise the JVM's resident size
# depends on when the GC grows the heap, and moved 0.88-1.03 GB between runs.
DRIVER_MEMORY = "1g"
MIN_PASSES = 2  # timed passes per run, whatever --seconds says

CLK_TCK = os.sysconf("SC_CLK_TCK")
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "rows_per_s": "rows/s",
             "op_p50_ms": "ms", "peak_pss_mb": "MB"}


class TreeSampler(threading.Thread):
    """The process tree of this run (this process, the JVM, its Python
    workers): CPU ticks on demand, and in the background the peak
    proportional set size (PSS: resident pages, each shared page
    split between the processes mapping it), sampled from
    /proc/<pid>/smaps_rollup every 100 ms. A process counts only once it
    has lived through one sampling interval: a child the JVM is spawning
    briefly shares the JVM's pages and would otherwise count them twice.
    ``reset`` starts the peak afresh (after the warm-up)."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kib = 0
        self._lock = threading.Lock()  # a sample is taken whole before or after a reset
        self._stop_evt = threading.Event()

    @staticmethod
    def tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                pass
        return out

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            return None

    @classmethod
    def _start_time(cls, pid: int) -> str | None:
        st = cls._stat(pid)
        return st[19] if st else None

    def cpu_ticks(self) -> dict[tuple[int, str], int]:
        """User + system clock ticks of every process in the tree, keyed by
        (pid, start time)."""
        out = {}
        for p in self.tree(os.getpid()):
            st = self._stat(p)
            if st:
                out[(p, st[19])] = int(st[11]) + int(st[12])
        return out

    @staticmethod
    def _pss_kib(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def run(self) -> None:
        seen: set[tuple[int, str]] = set()
        while not self._stop_evt.is_set():
            now = {(p, t) for p in self.tree(os.getpid())
                   if (t := self._start_time(p)) is not None}
            with self._lock:
                total = sum(self._pss_kib(p) for p, t in now & seen)
                self.peak_kib = max(self.peak_kib, total)
            seen = now
            self._stop_evt.wait(0.1)

    def reset(self) -> None:
        with self._lock:
            self.peak_kib = 0

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def start_spark(get_spark, workload: str, work: str, cores: int = CORES):
    """One Spark session whose JVM, Python workers and scratch files all
    stay under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    for var in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS"):  # would override spark.local.dir
        os.environ.pop(var, None)
    # every JVM of the run (launcher and driver): temp files in the run's
    # directory, and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    spark = get_spark(
        f"perfbench-{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Dderby.system.home={work}"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and wait
    for the JVM and every process it started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(sampler: TreeSampler) -> None:
    """Wait (up to 30 s) until no descendant of this process remains."""
    deadline = time.monotonic() + 30
    while len(sampler.tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(p, stages: dict, py: dict, s: dict) -> dict[str, float]:
    """Per-layer numbers of one traced pass: ``p`` its PassResult, then its
    stage counters, Python-worker counters and spans (name -> calls, s)."""
    from trace import progress_totals

    ms = lambda name: s.get(name, (0, 0.0))[1] * 1e3  # noqa: E731
    out = {"plans.build_ms": ms("plans.build")}
    out.update({f"operators.{k}": v for k, v in stages.items()})
    out.update({f"functions.{k}": v for k, v in py.items()})
    out["streaming.pipeline.start_ms"] = ms("streaming.pipeline.start")
    out.update({f"streaming.pipeline.{k}": v for k, v in progress_totals(p.progress).items()})
    out.update({f"streaming.scd2.{k}": p.py_metrics.get(k, 0.0)
                for k in ("py_boot_ms", "py_run_ms", "py_bytes_received")})
    out["streaming.scd2.late_dropped"] = p.late_dropped
    out["streaming.sink.write_ms"] = ms("streaming.sink.write")
    out["streaming.sink.epochs"] = float(s.get("streaming.sink.write", (0, 0.0))[0])
    out["streaming.sink.rows_written"] = p.sink_rows
    out["streaming.sink.bytes"] = p.sink_bytes
    return out


def run(args, work: str, sampler: TreeSampler) -> dict:
    import gen
    import workloads
    from trace import SparkCounters, Spans

    from data_harvesting_spark import session

    spans = Spans()
    w = workloads.WORKLOADS[args.workload](work, args.seed, gen.FULL[args.workload])
    if args.trace:
        spans.install(session, "get_spark", "session.start")
        w.install_spans(spans)
        spans.on = True
    spark = None
    try:
        spark = start_spark(session.get_spark, args.workload, work, args.cores)
        phases = {"session": time.perf_counter() - T_START}
        start_span = spans.take().get("session.start", (0, 0.0))[1]
        counters = SparkCounters(spark)
        w.warmup(spark)
        counters.mark()
        spans.take()
        setup_s = phases["setup"] = time.perf_counter() - T_START
        sampler.reset()  # peak memory of the timed passes only

        # (traced? -- None for the settling pass, PassResult, stage counters,
        #  Python counters, spans)
        passes: list[tuple] = []
        min_passes = 5 if args.trace else MIN_PASSES
        t0 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t0 < args.seconds:
            # traced run: one settling pass (the first timed pass is still
            # slower; it counts on neither side of the overhead), then
            # untraced, traced, traced, untraced, ... so a drift over the
            # run does not land in the tracing overhead
            if not args.trace:
                traced = False
            elif not passes:
                traced = None
            else:
                traced = (len(passes) - 1) % 4 in (1, 2)
            spans.on = bool(traced)
            c0 = sampler.cpu_ticks()
            p = w.run_pass(spark)
            c1 = sampler.cpu_ticks()
            p.cpu_s = sum(v - c0.get(k, 0) for k, v in c1.items()) / CLK_TCK
            passes.append((traced, p, counters.stages(),
                           counters.python() if args.trace else {}, spans.take()))
        peak_kib = sampler.peak_kib  # before the checks' collects and DuckDB
        phases["passes"] = time.perf_counter() - T_START
        spans.on = bool(args.trace)
        verdicts = w.checks(spark)
        read_span = spans.take().get("streaming.sink.read", (0, 0.0))[1]
    finally:
        spans.uninstall()
        if spark is not None:
            stop_spark(spark)
    wait_children(sampler)
    phases["stopped"] = time.perf_counter() - T_START
    print("phases_s " + json.dumps({k: round(v, 1) for k, v in phases.items()}), file=sys.stderr)

    failed = [v for v in verdicts if v]
    for msg in failed:
        print(f"CHECK FAILED {msg}", file=sys.stderr)
    ops = sum(len(p.op_ms) for _, p, *_ in passes) + len(verdicts)
    result = {"correct": not failed, "attempted": ops, "failed": len(failed)}
    secs = [p.seconds for _, p, *_ in passes]
    print("passes_s " + json.dumps([round(x, 3) for x in secs]), file=sys.stderr)
    if not args.trace:
        rows = [p.rows or st["scan_rows"] for _, p, st, *_ in passes]
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(secs),
            "pass_cpu_s": median([p.cpu_s for _, p, *_ in passes]),
            "rows_per_s": median([r / s for r, s in zip(rows, secs)]),
            "op_p50_ms": median([x for _, p, *_ in passes for x in p.op_ms]),
            "peak_pss_mb": peak_kib / 2**10,
        }
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        with open("/proc/loadavg") as f:
            print("loadavg " + f.read().strip(), file=sys.stderr)
        print("ops_ms " + json.dumps([[round(x) for x in p.op_ms] for _, p, *_ in passes]),
              file=sys.stderr)
        return result
    layers = [layer_metrics(p, st, py, s) for traced, p, st, py, s in passes if traced]
    per_layer = {k: median([x[k] for x in layers]) for k in layers[0]}
    per_layer["session.start_s"] = start_span
    per_layer["streaming.sink.read_ms"] = read_span * 1e3
    per_layer["trace.overhead_s"] = (
        median([p.seconds for traced, p, *_ in passes if traced is True])
        - median([p.seconds for traced, p, *_ in passes if traced is False]))
    result["metrics"] = {k: {"value": v, "unit": layer_unit(k)}
                         for k, v in sorted(per_layer.items())}
    return result


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    return "bytes" if "bytes" in last else "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="transcript-harvest benchmark (one workload)")
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "stream_curate", "stream_scd2"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help=f"local[k] and shuffle partitions (default {CORES}; at most nproc)")
    args = ap.parse_args(argv)
    if not 1 <= args.cores <= (os.cpu_count() or 1):
        ap.error("--cores must be between 1 and nproc")
    if not os.path.isdir(os.path.join(ROOT, "data_harvesting_spark")):
        print(f"engine package data_harvesting_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp)
    sampler = TreeSampler()
    sampler.start()
    try:
        result = run(args, work, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(tmp):
            os.rmdir(tmp)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
