"""Per-layer numbers of one query, read from Spark's own records.

Sources, all read after the query (Spark keeps only the last 1,000
jobs, stages and SQL executions, so they are read after every query):

- the SQL status store (``sharedState().statusStore()``): each SQL
  execution's final plan graph and its operator metrics -> scans,
  writes, exchanges, joins, spill, aggregate fallback, Python workers;
- the app status store: jobs (count, start/end -> time with no job running)
  and stages (count, tasks, executor CPU, GC);
- ``getRDDStorageInfo`` polled during the query (peak cached MB) and
  ``getPersistentRDDs`` after the result is dropped and GC ran;
- a StreamingQueryListener: micro-batches, input rows, batch time and
  state size.

Execution, job and stage ids are consecutive, so a record evicted
before it was read leaves a gap in the ids; gaps are counted as
``plans.lost_records`` instead of reading as zero.
"""

from __future__ import annotations

import gc
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0
POLL_S = 0.2  # cached-RDD sampling period while a query runs
SETTLE_S = 5.0  # longest wait for streaming listener events to arrive

# SQL metric name -> (layer metric, factor to the reported unit: the
# parsed value is in bytes, seconds or a count)
_SQL_METRICS = {
    "written output": ("sources.write_mb", 1 / MB),
    "number of written files": ("sources.write_files", 1),
    "task commit time": ("sources.commit_s", 1),
    "job commit time": ("sources.commit_s", 1),
    "shuffle bytes written": ("operators.shuffle_write_mb", 1 / MB),
    "shuffle records written": ("operators.shuffle_records", 1),
    "fetch wait time": ("operators.fetch_wait_s", 1),
    "spill size": ("operators.spill_mb", 1 / MB),
    "number of sort fallback tasks": ("operators.agg_sort_fallback_tasks", 1),
    "time in aggregation build": ("operators.agg_build_s", 1),
    "time to start Python workers": ("pykernel.worker_start_s", 1),
    "time to initialize Python workers": ("pykernel.worker_init_s", 1),
    "time to run Python workers": ("pykernel.run_s", 1),
    "data sent to Python workers": ("pykernel.sent_mb", 1 / MB),
    "data returned from Python workers": ("pykernel.returned_mb", 1 / MB),
}
# metrics of a file-source scan node (the ones carrying "number of files read")
_SCAN_METRICS = {
    "number of output rows": ("sources.scan_rows", 1),
    "size of files read": ("sources.scan_mb", 1 / MB),
    "number of files read": ("sources.scan_files", 1),
    "scan time": ("sources.scan_time_s", 1),
}
_NODE_COUNTS = {
    "Exchange": "operators.exchanges",
    "BroadcastExchange": "operators.exchanges",
    "BroadcastHashJoin": "operators.broadcast_joins",
    "BroadcastNestedLoopJoin": "operators.broadcast_joins",
    "SortMergeJoin": "operators.sort_merge_joins",
}

METRICS = (
    "plans.build_s", "plans.sql_executions", "plans.jobs", "plans.stages",
    "plans.tasks", "plans.driver_idle_s", "plans.task_cpu_s", "plans.gc_s",
    "plans.lost_records",
    "sources.scan_rows", "sources.scan_mb", "sources.scan_files",
    "sources.scan_time_s", "sources.write_mb", "sources.write_files",
    "sources.commit_s",
    "operators.exchanges", "operators.shuffle_write_mb",
    "operators.shuffle_records", "operators.fetch_wait_s", "operators.spill_mb",
    "operators.broadcast_joins", "operators.sort_merge_joins",
    "operators.agg_sort_fallback_tasks", "operators.agg_build_s",
    "operators.cache_peak_mb", "operators.leftover_rdds",
    "pykernel.worker_start_s", "pykernel.worker_init_s", "pykernel.run_s",
    "pykernel.sent_mb", "pykernel.returned_mb",
    "streaming.batches", "streaming.input_rows", "streaming.batch_p50_ms",
    "streaming.state_rows", "streaming.state_mem_mb",
)

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024,
    "TiB": MB * MB, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``"4"``, ``"1,234"``,
    ``"10.9 KiB"``, ``"25 ms"``, or the task-aggregated form
    ``"total (min, med, max ...)\\n7.2 s (1.7 s, ...)"`` (the total).
    Sizes come back in bytes and times in seconds."""
    line = text.split("\n")[-1].split(" (")[0].strip()
    num, _, unit = line.partition(" ")
    return float(num.replace(",", "")) * _UNITS[unit.strip()]


def add_node_metrics(rec: dict[str, float], metrics: dict[str, str]) -> None:
    """Add one plan node's formatted SQL metrics (name -> text) to a
    layer record. Only the metrics the record uses are parsed; others
    come in forms with no total, such as ``"(min, med, max ...)"``."""
    table = _SCAN_METRICS if "number of files read" in metrics else _SQL_METRICS
    for name, text in metrics.items():
        if name in table:
            key, factor = table[name]
            rec[key] += parse_metric(text) * factor


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class _Progress(StreamingQueryListener):
    def __init__(self):
        self.started = 0
        self.terminated = 0
        self.batches: list[tuple[str, int, float, int, int]] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        rec = (
            str(p.id),
            int(p.numInputRows),
            float((p.durationMs or {}).get("triggerExecution", 0)),
            sum(int(o.numRowsTotal) for o in ops),
            sum(int(o.memoryUsedBytes) for o in ops),
        )
        with self.lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1


class LayerReader:
    """Brackets one query with ``begin()`` / ``end()`` and returns its
    layer record: every name in METRICS with a number."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()
        self._progress = _Progress()
        spark.streams.addListener(self._progress)

    # -- marks ---------------------------------------------------------
    def _last_execution(self) -> int | None:
        """Id of the newest SQL execution; None while the store is empty
        (ids are JVM-wide, so an empty store gives no baseline)."""
        n = self._sql.executionsCount()
        if n == 0:
            return None
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def _jobs_since(self, job0: int) -> list:
        """Retained jobs with an id above ``job0``, newest first (the
        store lists jobs newest first, in every job group)."""
        jobs = self._app.jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job0:
                break
            out.append(job)
        return out

    def _persisted(self) -> set[int]:
        return set(self._spark._jsc.getPersistentRDDs().keys())

    def _cached_mb(self) -> float:
        infos = self._sc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def begin(self) -> None:
        self._exec0 = self._last_execution()
        jobs = self._app.jobsList(None)
        self._job0 = jobs.apply(0).jobId() if jobs.size() else -1
        self._rdds0 = self._persisted()
        with self._progress.lock:
            self._batch0 = len(self._progress.batches)
        self._cache_peak = self._cached_mb()
        self._stop = threading.Event()
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self._poller.start()
        self._t0 = time.time() * 1000.0

    def _poll(self) -> None:
        while not self._stop.wait(POLL_S):
            self._cache_peak = max(self._cache_peak, self._cached_mb())

    # -- reading -------------------------------------------------------
    def end(self, build_s: float) -> dict[str, float]:
        """Read the records of everything since ``begin()``. Call after
        the query's result is committed and every reference to it is
        dropped."""
        t1 = time.time() * 1000.0
        self._stop.set()
        self._poller.join()
        rec = dict.fromkeys(METRICS, 0.0)
        rec["plans.build_s"] = build_s
        rec["operators.cache_peak_mb"] = self._cache_peak
        lost = self._read_executions(rec)
        lost += self._read_jobs(rec, self._t0, t1)
        rec["operators.leftover_rdds"] = float(self._leftover_rdds())
        self._read_streaming(rec)
        rec["plans.lost_records"] = float(lost)
        return rec

    def _read_executions(self, rec: dict) -> int:
        n = self._sql.executionsCount()
        base = -1 if self._exec0 is None else self._exec0
        tail, k = [], 16
        while True:
            k = min(k, n)
            tail = _seq(self._sql.executionsList(n - k, k)) if k else []
            if k == n or (tail and tail[0].executionId() <= base):
                break
            k *= 4
        ids = [e.executionId() for e in tail if e.executionId() > base]
        if self._exec0 is None and ids:
            base = min(ids) - 1
        for eid in ids:
            self._read_plan(eid, rec)
        rec["plans.sql_executions"] = float(max(ids, default=base) - base)
        return int(rec["plans.sql_executions"]) - len(ids)

    def _read_plan(self, eid: int, rec: dict) -> None:
        values = self._sql.executionMetrics(eid)
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            if name in _NODE_COUNTS:
                rec[_NODE_COUNTS[name]] += 1
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = v.get()
            add_node_metrics(rec, metrics)

    def _read_jobs(self, rec: dict, t0: float, t1: float) -> int:
        new = self._jobs_since(self._job0)
        expected = (new[0].jobId() - self._job0) if new else 0
        lost = expected - len(new)
        spans, stages = [], set()
        for job in new:
            a, b = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if a is not None:
                spans.append((a, b if b is not None else t1))
            stages.update(_seq(job.stageIds()))
        for sid in sorted(stages):
            try:
                st = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store (NoSuchElementException)
                lost += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["plans.stages"] += 1
            rec["plans.tasks"] += st.numTasks()
            rec["plans.task_cpu_s"] += st.executorCpuTime() / 1e9
            rec["plans.gc_s"] += st.jvmGcTime() / 1e3
        rec["plans.jobs"] = float(expected)
        rec["plans.driver_idle_s"] = ((t1 - t0) - _covered_ms(spans, t0, t1)) / 1e3
        return lost

    def _leftover_rdds(self) -> int:
        """Persisted RDDs created since begin() that survive dropping
        the result and a GC. The JVM releases them asynchronously, so
        poll briefly until the count settles."""
        gc.collect()
        last = None
        for _ in range(10):
            self._spark._jvm.System.gc()
            time.sleep(0.1)
            now = len(self._persisted() - self._rdds0)
            if now == last or now == 0:
                return now
            last = now
        return last

    def _read_streaming(self, rec: dict) -> None:
        # listener events arrive asynchronously: wait until every
        # started query has reported its termination
        deadline = time.monotonic() + SETTLE_S
        while time.monotonic() < deadline:
            with self._progress.lock:
                if self._progress.started == self._progress.terminated:
                    break
            time.sleep(0.05)
        with self._progress.lock:
            batches = self._progress.batches[self._batch0:]
        if not batches:
            return
        rec["streaming.batches"] = float(len(batches))
        rec["streaming.input_rows"] = float(sum(b[1] for b in batches))
        rec["streaming.batch_p50_ms"] = statistics.median(b[2] for b in batches)
        per_query: dict[str, tuple[int, int]] = {}
        for qid, _, _, rows, mem in batches:
            r, m = per_query.get(qid, (0, 0))
            per_query[qid] = (max(r, rows), max(m, mem))
        rec["streaming.state_rows"] = float(sum(r for r, _ in per_query.values()))
        rec["streaming.state_mem_mb"] = sum(m for _, m in per_query.values()) / MB
