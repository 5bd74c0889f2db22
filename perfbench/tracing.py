"""Traced mode: spans and counters recorded from outside the program.

Spans wrap calls into the program's public functions (registry
builders, checkpointing, the document-ETL plan and its sinks, the
injected transform port). Counters come from a py4j round-trip count
and from Spark's own status stores, which stay populated with the UI
off. Everything is kept in memory and written as JSON at the end.
"""

from __future__ import annotations

import json
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from bench import _settled_group_count  # job-group settle helper

PACKAGE = "sbs_suptech_etl_v2_spark"

# Python-node SQL metrics -> per-layer counter they feed.
PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
# Counters every workload reads from the status stores per unit of work.
EXEC_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "shuffle_write_bytes", "spill_bytes", "python_total_s",
                 "python_boot_s", "python_bytes")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part of the span that its child
    spans cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
        )
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("1.2 s", "total (...)\\n78.8 KiB (...)")
    as a number in seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Tracer:
    """In-memory span recorder plus the counter readers.

    Spans nest through a stack (the driver is single-threaded here).
    ``overhead`` brackets the tracer's own bookkeeping, so the run can
    report the share of its wall time that tracing added.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._epoch_offset = time.time() - time.perf_counter()
        self.py4j_calls = 0
        self.overhead_s = 0.0
        self._restore: list = []
        self._sql_cursor = 0

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, request: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, request))
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def add_remote_span(self, name: str, t0_epoch: float, t1_epoch: float,
                        parent: Span) -> None:
        """A span recorded in a worker process (epoch clock), re-based
        onto the driver's perf_counter clock."""
        self.spans.append(Span(
            len(self.spans), name, t0_epoch - self._epoch_offset,
            t1_epoch - self._epoch_offset, parent.id, parent.request,
        ))

    @contextmanager
    def overhead(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "self_s": self_times(self.spans),
                       "spans": [asdict(s) for s in self.spans]}, fh)

    # -- instrumentation --------------------------------------------------
    def install(self, spark) -> None:
        """Count py4j round trips and open a span around each
        instrumented program function, wherever the program bound it.
        SQL executions that ran before this call are never read."""
        from py4j.java_gateway import GatewayClient

        from sbs_suptech_etl_v2_spark import checkpointing
        from sbs_suptech_etl_v2_spark.plans import document_etl
        from sbs_suptech_etl_v2_spark.sinks.writers import NotificationBatchWriter

        send = GatewayClient.send_command
        tracer = self
        driver_thread = threading.get_ident()

        def counting_send(client, *args, **kwargs):
            # py4j's finalizer thread releases JVM references at GC
            # time; only the driver thread's calls are program work
            if threading.get_ident() == driver_thread:
                tracer.py4j_calls += 1
            return send(client, *args, **kwargs)

        self._sql_cursor = spark._jsparkSession.sharedState().statusStore().executionsCount()
        GatewayClient.send_command = counting_send
        self._restore.append(lambda: setattr(GatewayClient, "send_command", send))
        for name, fn in (
            ("checkpoint", checkpointing.materialize),
            ("checkpoint", checkpointing.materialize_required),
            ("sinks.k1_write", document_etl.write_text_artifacts),
            ("sinks.k2_merge", document_etl.merge_metadata),
        ):
            self._wrap_everywhere(fn, self._spanned(name, fn))
        notify = NotificationBatchWriter.__call__
        NotificationBatchWriter.__call__ = self._spanned("sinks.k3_notify", notify)
        self._restore.append(
            lambda: setattr(NotificationBatchWriter, "__call__", notify))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def _spanned(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_everywhere(self, original, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._restore.append(
                        lambda m=mod, a=attr, v=value: setattr(m, a, v))

    # -- Spark status stores ----------------------------------------------
    def group_jobs(self, sc, group: str) -> list[int]:
        _settled_group_count(sc.statusTracker(), group)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    def stage_counters(self, sc, job_ids: list[int]) -> dict[str, float]:
        """Executed stages of ``job_ids`` from statusStore().lastStageAttempt."""
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        sids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                sids.update(info.stageIds)
        out = dict(jobs=len(job_ids), stages=0, tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0)
        for sid in sids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that was never submitted
                continue
            if st.numCompleteTasks() + st.numFailedTasks() == 0:
                continue  # skipped through shuffle reuse
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def python_counters(self, spark, job_ids: list[int]) -> dict[str, float]:
        """Python-node SQL metrics of the SQL executions that ran
        ``job_ids`` (new executions only: a cursor skips those seen)."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        wanted = set(job_ids)
        out = dict(python_total_s=0.0, python_boot_s=0.0, python_bytes=0.0)
        count = store.executionsCount()
        it = store.executionsList(self._sql_cursor, count - self._sql_cursor).iterator()
        self._sql_cursor = count
        while it.hasNext():
            ex = it.next()
            jobs = set(_scala_keys(ex.jobs()))
            if not jobs or not jobs <= wanted:
                continue
            values = store.executionMetrics(ex.executionId())
            mi = ex.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                key = PYTHON_METRICS.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_metric(v.get())
        return out


def plan_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``'s own QueryExecution,
    from its QueryPlanningTracker. Planning is lazy, so it is forced
    here; the optimizer runs the same plan the action just executed."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total, it = 0.0, qe.tracker().phases().values().iterator()
    while it.hasNext():
        total += it.next().durationMs() / 1e3
    return total


def _scala_keys(scala_map) -> list:
    keys, it = [], scala_map.keys().iterator()
    while it.hasNext():
        keys.append(it.next())
    return keys
