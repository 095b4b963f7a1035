"""Spans around calls into the program's layers, and the Spark-side
counters read back for them.

Tracing patches module attributes that the program resolves at call time
(``conformance.read_table``, ``plans.pipeline.ingest``, ``D.*`` …), so
the program itself is unchanged. Each span sets its own Spark job group,
and jobs are attributed to the innermost span open in the driver thread
when they were submitted (jobs that worker threads submit carry no group
and fall back to that time rule). Nothing here is installed in an
untraced run.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self.op_id: int | None = None
        self.on = True      # off: the wrappers call straight through
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if threading.get_ident() != self._main:   # pool threads: time rule
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "op": self.op_id})
        self._stack.append(idx)
        self.sc.setJobGroup(f"span-{idx}", name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned call of the original."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not self.on:
                return fn(*a, **kw)
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (inspect.isfunction(fn) and not attr.startswith("_")
                    and fn.__module__ == module.__name__):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ analysis

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def span_of_time(self, t: float) -> int | None:
        """Innermost span open at wall time ``t``."""
        best = None
        for i, s in enumerate(self.spans):
            if s["start"] <= t <= s["end"] and (
                    best is None or s["start"] >= self.spans[best]["start"]):
                best = i
        return best

    def ancestors(self, idx: int | None):
        while idx is not None:
            yield idx
            idx = self.spans[idx]["parent"]


def _opt(o):
    """Scala ``Option`` → value or None."""
    return o.get() if o.isDefined() else None


def _seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class JobReader:
    """Reads finished jobs, and their stages, back from the application
    status store (works with the UI off). Read after every op, so the
    store's default retention (1000 jobs/stages) never drops one."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()
        self.jobs: list[dict] = []
        self.started_ms = time.time() * 1000

    def read(self, keep: bool = True) -> None:
        """Take in the jobs finished since the last read; ``keep=False``
        marks them seen without recording them."""
        jvm = self.spark._jvm
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for j in _seq(jvm, self.store.jobsList(jvm.java.util.ArrayList())):
            jid = j.jobId()
            sub = _opt(j.submissionTime())
            if jid in self.seen_jobs or sub is None or sub.getTime() < self.started_ms:
                continue
            self.seen_jobs.add(jid)
            if not keep:
                self.seen_stages.update(_seq(jvm, j.stageIds()))
                continue
            stages = []
            for sid in _seq(jvm, j.stageIds()):
                if sid in self.seen_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # evicted from the store (it keeps 1000 stages): a stage
                    # an earlier job ran, which this job skipped
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self.seen_stages.add(sid)
                stages.append({
                    "tasks": st.numCompleteTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "in_mb": st.inputBytes() / MB,
                    "shr_mb": (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / MB,
                    "shw_mb": st.shuffleWriteBytes() / MB,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
                })
            self.jobs.append({"id": jid, "t": sub.getTime() / 1e3,
                              "group": _opt(j.jobGroup()), "stages": stages})


class CatalystListener:
    """Sums the Catalyst phase times of every executed query
    (``QueryExecution.tracker().phases()``) via a query-execution
    listener called back over the py4j gateway."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.phases: dict[str, float] = defaultdict(float)
        self.queries = 0
        self.on = True      # off: events are ignored
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        if not self.on:
            return
        phases = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            qe.tracker().phases())
        for name, summary in phases.items():
            self.phases[name] += summary.durationMs() / 1e3
        self.queries += 1

    def onFailure(self, func_name, qe, exception):
        pass

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self.flush()
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
