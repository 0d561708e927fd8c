"""Spans and engine counters, taken from outside the package.

A :class:`Tracer` records a span around every call into a layer (stage
-> ``build``, the library call, and ``write``, the action that writes
the stage output).  Spans live in memory and are written out once at
the end.  With ``engine=True`` it also reads, per stage span:

- the jobs and stages of the span's job groups from the status store
  (``setJobGroup`` + ``statusTracker`` + ``statusStore``);
- Catalyst phase times and the executed plan's Python-node SQL metrics
  of every query the span ran, through a ``QueryExecutionListener``
  over the py4j callback server, registered for traced runs only.

With ``engine=False`` only the span times are kept, which costs a clock
read per span: that is the untraced mode the end-to-end metrics use.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage-level counters summed from the status store's StageData
_STAGE_FIELDS = {
    "executor.run_ms": "executorRunTime",
    "executor.gc_ms": "jvmGcTime",
    "shuffle.write_bytes": "shuffleWriteBytes",
    "shuffle.read_bytes": "shuffleReadBytes",
    "shuffle.fetch_wait_ms": "shuffleFetchWaitTime",
    "io.input_bytes": "inputBytes",
    "io.output_bytes": "outputBytes",
}
_PY_FIELDS = {
    "python.total_ms": "pythonTotalTime",
    "python.boot_ms": "pythonBootTime",
    "python.bytes_sent": "pythonDataSent",
    "python.bytes_received": "pythonDataReceived",
}
ENGINE_METRICS = (
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "io.input_bytes", "io.output_bytes",
    *_PY_FIELDS,
    "multimodal.python_ms", "pdfscan.python_ms",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class _QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``:
    turns each finished query into a plain dict while its plan is alive."""

    def __init__(self, jvm):
        self._jvm = jvm
        self._lock = threading.Lock()
        self._done: list[dict] = []
        self._seen_cached: set[int] = set()

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._done = self._done, []
        return out

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        try:
            rec = {"phases": _phases(qe), "py": {}}
            self._walk(qe.executedPlan(), rec["py"])
        except Exception as e:  # raised on the main thread by collect()
            rec = {"error": repr(e)}
        with self._lock:
            self._done.append(rec)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        with self._lock:
            self._done.append({"error": f"{func_name} failed"})

    def _walk(self, node, acc: dict) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return self._walk(node.executedPlan(), acc)
        if name.endswith("QueryStage"):
            return self._walk(node.plan(), acc)
        if name == "ReusedExchange":
            return  # counted where the exchange first ran
        if name == "InMemoryTableScan":
            # a cached subplan runs inside the query that fills it: count
            # its metrics once, at first sight
            cached = node.relation().cachedPlan()
            key = self._jvm.System.identityHashCode(cached)
            if key not in self._seen_cached:
                self._seen_cached.add(key)
                self._walk(cached, acc)
            return
        metrics = node.metrics()
        if metrics.contains("pythonTotalTime"):
            for out, key in _PY_FIELDS.items():
                opt = metrics.get(key)
                if opt.isDefined():
                    acc[out] = acc.get(out, 0) + opt.get().value()
            if name == "MapInPandas":
                cols = node.output().mkString(",")
                total = metrics.get("pythonTotalTime").get().value()
                if "phash" in cols:
                    acc["multimodal.python_ms"] = acc.get("multimodal.python_ms", 0) + total
                elif "page_idx" in cols:
                    acc["pdfscan.python_ms"] = acc.get("pdfscan.python_ms", 0) + total
        children = node.children()
        for i in range(children.size()):
            self._walk(children.apply(i), acc)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


class Tracer:
    def __init__(self, spark, *, engine: bool):
        self.spark = spark
        self.engine = engine
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = 0
        self._groups = 0
        self._listener = None
        if engine:
            from pyspark.java_gateway import ensure_callback_server_started

            sc = spark.sparkContext
            ensure_callback_server_started(sc._gateway)
            self._listener = _QueryListener(sc._jvm)

    @contextmanager
    def listening(self):
        """Keep the query listener registered for the enclosed run only,
        so it sees that run's queries and none of the untraced runs' or
        the output checks'."""
        if self._listener is None:
            yield
            return
        manager = self.spark._jsparkSession.listenerManager()
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty()  # earlier queries' events must not reach it
        manager.register(self._listener)
        try:
            yield
        finally:
            bus.waitUntilEmpty()
            manager.unregister(self._listener)
            self._listener.drain()

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 run=self.run)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def job_group(self, span: Span) -> str | None:
        """Tag the jobs the next calls start; returns the group id."""
        if not self.engine:
            return None
        self._groups += 1
        gid = f"perfbench-{self.run}-{self._groups}-{span.name}"
        self.spark.sparkContext.setJobGroup(gid, f"perfbench {span.name}")
        return gid

    # -- engine counters ----------------------------------------------------
    def collect(self, span: Span, build_group: str, write_group: str) -> None:
        """Fill ``span.counters`` from the status store and the listener."""
        if not self.engine:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        c = span.counters
        c.update(dict.fromkeys(ENGINE_METRICS, 0))
        build_jobs = tracker.getJobIdsForGroup(build_group)
        jobs = list(build_jobs) + list(tracker.getJobIdsForGroup(write_group))
        c["eager_jobs"] = len(build_jobs)
        c["scheduler.jobs"] = len(jobs)
        stage_ids: set[int] = set()
        for j in jobs:
            ids = store.job(j).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            c["scheduler.stages"] += 1
            c["scheduler.tasks"] += st.numCompleteTasks()
            c["executor.cpu_ms"] += st.executorCpuTime() / 1e6
            c["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for key, getter in _STAGE_FIELDS.items():
                c[key] += getattr(st, getter)()
        for q in self._listener.drain():
            if "error" in q:
                raise RuntimeError(f"query listener: {q['error']}")
            for ph, ms in q["phases"].items():
                c[f"catalyst.{ph}_ms"] = c.get(f"catalyst.{ph}_ms", 0) + ms
            for k, v in q["py"].items():
                c[k] += v

    # -- reporting ------------------------------------------------------------
    def self_seconds(self, idx: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.seconds - covered

    def dump(self, path: str) -> None:
        rows = [
            {"name": s.name, "run": s.run, "parent": s.parent,
             "start": s.start, "end": s.end, "seconds": s.seconds,
             "self_seconds": self.self_seconds(i), "counters": s.counters}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)
