"""The three benchmark workloads.

Each workload stages its seeded input, runs one untimed warm-up pass, runs
timed passes, and checks its outputs against DuckDB oracles computed apart
from the engine. Every check is one operation; a check reports ``None`` when
it passes and a one-line reason when it fails.

- ``catalog``: the 15 headline queries (``bench.HEADLINE``), each written to
  the ``noop`` sink; one operation is one query (plan build + execution).
- ``stream_curate``: ``start_curate_job_session_window`` (conversation-scope
  cap, epoch sink) replaying a transcript backlog, one slice file per
  micro-batch, with ``availableNow``; one operation is one micro-batch.
- ``stream_scd2``: ``start_scd2_stream_job`` over an event log, same replay.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen


@dataclass
class PassResult:
    seconds: float
    op_ms: list[float]
    rows: float = 0.0  # input rows read by the source in the pass (streams)
    sink_bytes: float = 0.0
    sink_rows: float = 0.0
    progress: list[dict] = field(default_factory=list)
    late_dropped: float = 0.0
    py_metrics: dict = field(default_factory=dict)  # streaming Python workers
    cpu_s: float = 0.0  # CPU time of the whole process tree during the pass


class _Frozen:
    """Stands in for a DataFrame whose rows were already collected, so the
    shared compare core can be fed a result of our choosing."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method name
        return self._pdf


def compare(spark, con, name: str, got, sql: str) -> str | None:
    """Equality of ``got`` (a pandas frame) and DuckDB's ``sql``, by the
    catalog's compare core (sorted columns, sorted rows, dtype cast)."""
    from scripts.check_oracle import compare_one

    r = compare_one(spark, con, "", name, lambda s, d: _Frozen(got), sql)
    return None if r["hash_match"] else f"{name}: {r['err']}"


def duck_views(tables: dict[str, str]):
    con = gen.duck()
    for view, path in tables.items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    return con


class Catalog:
    name = "catalog"
    WARM_PASSES = 1

    def __init__(self, root: str, seed: int, size: dict) -> None:
        import bench

        import __spark_entry__ as entry

        self.names = list(bench.HEADLINE)
        self.queries = dict(entry.queries())
        self.dir = gen.write_catalog(os.path.join(root, "catalog"), seed, size)
        self.results: dict = {}

    def install_spans(self, spans) -> None:
        for n in self.names:
            spans.install(self.queries, n, "plans.build")

    def warmup(self, spark) -> None:
        """Collect every query's rows (kept for the check) on up to four
        threads: a first run is mostly single-threaded driver work
        (planning, code generation, class loading). Then ``WARM_PASSES``
        sequential passes through the noop sink: the JIT keeps compiling
        the planner for several passes, and a pass measured while the
        compiler threads still take CPU depends on how much CPU they got."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
            rows = pool.map(lambda n: self.queries[n](spark, self.dir).toPandas(), self.names)
            self.results = dict(zip(self.names, rows))
        for _ in range(self.WARM_PASSES):
            self.run_pass(spark)

    def run_pass(self, spark) -> PassResult:
        op_ms = []
        t0 = time.perf_counter()
        for n in self.names:
            a = time.perf_counter()
            _noop(self.queries[n](spark, self.dir))
            op_ms.append((time.perf_counter() - a) * 1e3)
        return PassResult(time.perf_counter() - t0, op_ms)

    def checks(self, spark) -> list[str | None]:
        from scripts.check_oracle import ORACLE_TABLES

        import __spark_entry__ as entry

        osql = entry.oracle_sql()
        con = duck_views({t: f"{self.dir}/{t}.parquet" for t in ORACLE_TABLES})
        try:
            return [compare(spark, con, n, self.results[n], osql[n]) for n in self.names]
        finally:
            con.close()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Stream:
    """Shared replay harness: one fresh checkpoint + sink per pass."""

    name: str
    starter: str  # the start_*_job function of streaming/pipeline.py
    flush_col: str
    flush_key: object  # key of the flush row, left out of the checks

    def __init__(self, root: str) -> None:
        self.root = root
        self.src = os.path.join(root, "src")
        self.events = os.path.join(root, "events.parquet")
        self.n_pass = 0
        self.last_sink = ""
        self.py_metrics: dict[str, float] = {}  # filled by the traced sink
        self.spark = None  # the session whose stream manager runs the passes

    def install_spans(self, spans) -> None:
        from data_harvesting_spark.streaming import pipeline, sink

        from trace import plan_python_metrics

        write = sink.write_epoch

        def write_epoch(df, epoch_id, sink_path):
            # runs inside foreachBatch, so the active query's last execution
            # is this micro-batch: read its operators' Python metrics (traced
            # passes only, so untraced passes do not pay for the plan walk)
            write(df, epoch_id, sink_path)
            if not spans.on:
                return
            for q in self.spark.streams.active:
                plan_python_metrics(q._jsq.streamingQuery().lastExecution().executedPlan(),
                                    self.py_metrics)

        traced = spans.wrap("streaming.sink.write", write_epoch)
        spans.install(pipeline, self.starter, "streaming.pipeline.start")
        spans.install(sink, "write_epoch", "", traced)
        spans.install(sink.SINKS, "epoch", "", traced)
        spans.install(sink, "read_epoch_sink", "streaming.sink.read")

    def warmup(self, spark) -> None:
        """One pass over the short backlog (first slice + flush)."""
        self.run_pass(spark, os.path.join(self.root, "warm"))

    def run_pass(self, spark, src: str = "") -> PassResult:
        from data_harvesting_spark.streaming import pipeline

        self.spark = spark
        if self.last_sink:
            shutil.rmtree(os.path.dirname(self.last_sink), ignore_errors=True)
        self.n_pass += 1
        work = os.path.join(self.root, f"pass-{self.n_pass}")
        sink_path = os.path.join(work, "sink")
        t0 = time.perf_counter()
        q = self.start(getattr(pipeline, self.starter), spark, src or self.src, sink_path,
                       os.path.join(work, "ckpt"))
        q.awaitTermination()
        seconds = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"{self.name} stream failed: {q.exception()}")
        self.last_sink = sink_path
        progress = list(q.recentProgress)
        files = glob.glob(os.path.join(sink_path, "_epoch=*", "*.parquet"))
        late = getattr(q, "late_counter", None)
        py, self.py_metrics = self.py_metrics, {}
        return PassResult(
            seconds,
            [float(p["durationMs"]["triggerExecution"]) for p in progress],
            rows=float(sum(p["numInputRows"] for p in progress)),
            sink_bytes=float(sum(os.path.getsize(f) for f in files)),
            sink_rows=float(sum(pq.ParquetFile(f).metadata.num_rows for f in files)),
            progress=progress,
            late_dropped=float(late.value) if late is not None else 0.0,
            py_metrics=py,
        )

    def sink_rows(self, spark):
        from data_harvesting_spark.streaming import sink

        got = sink.read_epoch_sink(spark, self.last_sink).toPandas()
        return got[got[self.flush_col] != self.flush_key]


class StreamCurate(_Stream):
    name = "stream_curate"
    starter = "start_curate_job_session_window"
    flush_col, flush_key = "conv_id", "conv-flush"

    def __init__(self, root: str, seed: int, size: dict) -> None:
        super().__init__(os.path.join(root, "curate"))
        gen.write_curate_stream(self.root, seed, size)

    def start(self, starter, spark, src, sink_path, ckpt):
        from data_harvesting_spark.config import HarvestConfig

        cfg = HarvestConfig(session_gap="30 minutes", watermark_delay="10 minutes",
                            cap_scope="conversation", sink_format="epoch",
                            sink_path=sink_path, checkpoint_dir=ckpt)
        return starter(spark, src, cfg, available_now=True)

    def checks(self, spark) -> list[str | None]:
        import __spark_entry__ as entry

        got = self.sink_rows(spark)
        key = ["conv_id", "window_start", "example_idx"]
        dups = int(got.duplicated(key).sum())
        got = got.assign(window_start_us=got["window_start"].astype("datetime64[us]")
                         .astype("int64")).drop(columns=["window_start", "text_hash"])
        con = duck_views({"events": self.events})
        try:
            same = compare(spark, con, "stream_curate",
                           got, entry.oracle_sql()["curate_sessions_kernel"])
        finally:
            con.close()
        return [same, f"stream_curate: {dups} duplicate {tuple(key)} rows" if dups else None]


class StreamScd2(_Stream):
    name = "stream_scd2"
    starter = "start_scd2_stream_job"
    flush_col, flush_key = "user_id", gen.FLUSH_USER

    def __init__(self, root: str, seed: int, size: dict) -> None:
        super().__init__(os.path.join(root, "scd2"))
        gen.write_scd2_stream(self.root, seed, size)

    def start(self, starter, spark, src, sink_path, ckpt):
        return starter(spark, src, sink_path, ckpt,
                       watermark_delay="10 minutes", available_now=True)

    def checks(self, spark) -> list[str | None]:
        import __spark_entry__ as entry

        got = self.sink_rows(spark)
        sql = ("SELECT user_id, version, state, valid_from_us, valid_to_us FROM ("
               + entry.oracle_sql()["scd2_user_state"] + ") AS v WHERE NOT is_current")
        con = duck_views({"events": self.events})
        try:
            return [compare(spark, con, "stream_scd2", got, sql)]
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Catalog, StreamCurate, StreamScd2)}
