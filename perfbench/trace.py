"""Per-layer tracing for the benchmark: spans recorded from the benchmark's
own files around calls into the engine's modules, and counters read from
Spark's status stores after each operation.

Spans: ``Spans.wrap(name, fn)`` returns a function that records
(name, start, end) while tracing is on and is a plain call when off.
``Spans.install`` swaps such wrappers in at module level (for the traced
run only) and ``uninstall`` restores the originals.

Counters:
- stage data (``AppStatusStore``): run time, CPU time, GC time, tasks,
  shuffle write bytes, shuffle fetch wait, spill, input records;
- SQL plan metrics (``SQLAppStatusStore``): Python worker boot / init /
  run time and bytes sent of batch queries (``functions``); for streaming
  micro-batches the same metrics are read from the batch's executed plan
  (``plan_python_metrics``);
- ``StreamingQueryProgress``: the ``durationMs`` phases and
  ``stateOperators`` of every micro-batch.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict


class Spans:
    def __init__(self) -> None:
        self.on = False
        self.records: list[tuple[str, float, float]] = []
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.records.append((name, t0, time.perf_counter()))

        return traced

    def install(self, owner, attr: str, name: str, wrapper=None) -> None:
        """Replace ``owner.attr`` (a module attribute or dict entry) by a
        traced wrapper, or by ``wrapper`` when given (to share one wrapper
        between two references to the same function); ``uninstall`` puts
        every original back."""
        get = owner.__getitem__ if isinstance(owner, dict) else functools.partial(getattr, owner)
        orig = get(attr)
        self._saved.append((owner, attr, orig))
        self._set(owner, attr, wrapper or self.wrap(name, orig))

    def uninstall(self) -> None:
        while self._saved:
            self._set(*self._saved.pop())

    @staticmethod
    def _set(owner, attr, value) -> None:
        if isinstance(owner, dict):
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def take(self) -> dict[str, tuple[int, float]]:
        """{span name: (calls, total seconds)} since the last take."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for name, t0, t1 in self.records:
            out[name][0] += 1
            out[name][1] += t1 - t0
        self.records.clear()
        return {k: (v[0], v[1]) for k, v in out.items()}


_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
}


def parse_metric(text: str) -> float:
    """A Spark SQL metric as the status store formats it ("1,234",
    "2.1 s", "total (min, med, max ...)\\n782.7 KiB (...)") -> number in
    seconds or bytes (timings, sizes) or as counted."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class SparkCounters:
    """Reads what Spark itself recorded for the stages and SQL executions
    that completed since the previous read."""

    STAGE_FIELDS = {
        "exec_ms": "executorRunTime", "task_cpu_ms": "executorCpuTime",
        "gc_ms": "jvmGcTime", "tasks": "numCompleteTasks",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
        "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
        "scan_rows": "inputRecords",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # ids below these were read before: the stage list runs from the
        # newest id down, the SQL list from the oldest up, and every read
        # happens while no job runs, so a read walks from the newest entry
        # only as far back as the previous read went
        self._next_stage = 0
        self._next_sql = 0

    def mark(self) -> None:
        """Forget everything recorded so far (e.g. the warm-up)."""
        self.stages()
        self.python()

    def stages(self) -> dict[str, float]:
        empty = self._jvm.java.util.ArrayList()
        lst = self._store.stageList(empty, False, False,
                                    self._gw.new_array(self._jvm.double, 0), empty)
        out = dict.fromkeys(self.STAGE_FIELDS, 0.0)
        floor, i, n = self._next_stage, 0, lst.size()
        while i < n and (s := lst.apply(i)).stageId() >= floor:
            i += 1
            self._next_stage = max(self._next_stage, s.stageId() + 1)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            for name, field in self.STAGE_FIELDS.items():
                fields = field if isinstance(field, tuple) else (field,)
                out[name] += sum(float(getattr(s, f)()) for f in fields)
        out["task_cpu_ms"] /= 1e6  # executorCpuTime is in ns
        return out

    def python(self) -> dict[str, float]:
        """Python worker metrics of the SQL executions that completed since
        the last read (batch queries; see ``plan_python_metrics`` for
        streaming micro-batches)."""
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        execs = self._sql.executionsList()
        floor, i = self._next_sql, execs.size() - 1
        while i >= 0 and (e := execs.apply(i)).executionId() >= floor:
            i -= 1
            eid = e.executionId()
            self._next_sql = max(self._next_sql, eid + 1)
            if not e.completionTime().isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            metrics, ids = e.metrics(), set()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                # an adaptive plan lists a metric once per plan version
                if key is not None and v.isDefined() and m.accumulatorId() not in ids:
                    ids.add(m.accumulatorId())
                    x = parse_metric(v.get())
                    out[key] += x if key == "py_bytes_sent" else x * 1e3
        return out


# pythonDataSent is left out: the applyInPandasWithState runner of Spark
# 4.1 never updates it (it reads 0 on every micro-batch), so the bytes the
# handler returns stand for the stateful Python boundary's volume.
_PY_KEYS = {"pythonBootTime": "py_boot_ms", "pythonInitTime": "py_init_ms",
            "pythonTotalTime": "py_run_ms", "pythonDataReceived": "py_bytes_received"}


def plan_python_metrics(jplan, into: dict[str, float]) -> None:
    """Add the Python-worker metrics of every node of a JVM physical plan.

    Used for streaming micro-batches: ``foreachBatch`` runs the batch's plan
    inside a nested write whose status-store entry does not own those
    metrics, so they are read from the batch's executed plan instead."""
    todo = [jplan]
    while todo:
        node = todo.pop()
        metrics = node.metrics()
        for key, out in _PY_KEYS.items():
            m = metrics.get(key)
            if m.isDefined():
                into[out] = into.get(out, 0.0) + float(m.get().value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch phases of one stream run (``q.recentProgress``)."""
    phase = lambda p, k: float(p.get("durationMs", {}).get(k, 0))  # noqa: E731
    ops = lambda p: p.get("stateOperators") or []  # noqa: E731
    return {
        "batches": float(len(progress)),
        "add_batch_ms": sum(phase(p, "addBatch") for p in progress),
        "planning_ms": sum(phase(p, "queryPlanning") for p in progress),
        "wal_commit_ms": sum(phase(p, "walCommit") for p in progress),
        "commit_offsets_ms": sum(phase(p, "commitOffsets") for p in progress),
        "state_rows": max((sum(o.get("numRowsTotal", 0) for o in ops(p)) for p in progress),
                          default=0.0),
        "state_memory_bytes": max((sum(o.get("memoryUsedBytes", 0) for o in ops(p))
                                   for p in progress), default=0.0),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for p in progress for o in ops(p)),
        "rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0)
                                         for p in progress for o in ops(p)),
    }
