"""Spans and counters for the benchmark's traced mode (``--trace 1``).

A span has a name, start, end, parent span and statement id. Spans are
recorded from the benchmark's side of each call into the engine: the
benchmark wraps, in place, the module attributes and instance methods
the engine looks up at call time (``functions.registry.register_all``,
``dialect.rewrite``, ``ImpalaSession.sql`` on the session instance,
``HS2ThriftServer._dispatch`` on the server instance and
``HS2ThriftClient._call`` on each client). Counters read from Spark and
the JVM through py4j are taken at statement boundaries. Everything is
kept in memory and written to a JSON file when the run ends.

The untraced mode uses ``NullTracer``, which records nothing, so
end-to-end figures are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from typing import Any


class NullTracer:
    enabled = False
    stmt: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        yield None

    def wrap_attr(self, owner: Any, attr: str, name: str) -> None:
        pass

    def dump(self, path: str) -> None:
        pass


class Tracer(NullTracer):
    """In-memory span recorder. Not shared across processes.

    The benchmark drives one statement at a time (a closed loop), so the
    statement id is one field; the HS2 server's handler threads take
    their parent from the client span that is waiting on them."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.counters: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.client_span: int | None = None
        self.stmt = None
        #: DataFrames of the current statement (Catalyst phase times)
        self.dfs: list = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        stack = self._stack()
        parent = stack[-1] if stack else self.client_span
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "stmt": self.stmt,
               "start": time.perf_counter(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap_attr(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span
        called ``name`` per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapped)

    def sample(self, where: str, values: dict[str, float]) -> None:
        self.counters.append({"at": where, "stmt": self.stmt,
                              "t": time.perf_counter(), **values})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)

    def total(self, name: str, stmts: set[str] | None = None) -> tuple[float, int]:
        """Summed duration and count of spans called ``name``, limited
        to the given statement ids when ``stmts`` is set."""
        tot, n = 0.0, 0
        for s in self.spans:
            if s["name"] == name and (stmts is None or s["stmt"] in stmts):
                tot += s["end"] - s["start"]
                n += 1
        return tot, n


class CountingFile:
    """File proxy that counts the bytes read through it (the HS2 client's
    socket file, so reply sizes can be attributed per RPC)."""

    def __init__(self, f) -> None:
        self._f = f
        self.read_bytes = 0

    def read(self, n: int = -1) -> bytes:
        b = self._f.read(n)
        self.read_bytes += len(b)
        return b

    def __getattr__(self, name: str):
        return getattr(self._f, name)


class JvmCounters:
    """Cumulative counters of the driver JVM, read through py4j."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._catalog_metrics = jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jsc = sc._jsc.sc()

    def read(self) -> dict[str, float]:
        return {
            "codegen.compiles": self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen.compile_s": self._codegen.compileTime() / 1e9,
            "catalog.files_discovered": self._catalog_metrics.METRIC_FILES_DISCOVERED().getCount(),
            "jvm.jit_compile_s": self._jit.getTotalCompilationTime() / 1e3,
            "jvm.gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1e3,
        }

    def job_stats(self, group: str) -> dict[str, float]:
        """Sum the status-store records of every job run under ``group``.

        Waits for the listener bus first: stage records land there
        asynchronously after the action that ran them returns."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(
            ("exec.jobs", "exec.stages", "exec.tasks", "exec.execute_s",
             "exec.executor_run_s", "exec.executor_cpu_s", "exec.input_bytes",
             "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes"),
            0.0,
        )
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["exec.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["exec.execute_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            sids = job.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numTasks()
                out["exec.executor_run_s"] += st.executorRunTime() / 1e3
                out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec.input_bytes"] += st.inputBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def catalyst_plan_s(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for the
    DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs()
    return total / 1e3
