"""Tracing from outside the engine: spans, py4j round trips, Catalyst phases,
process and status-store counters.

Spans are recorded in memory around each call the benchmark makes into a
layer (workload pass, op, then build / plan / execute) and written out when
the run ends. Every span boundary snapshots Spark's next job id, so jobs are
attributed to spans by job-id range. That is exact for one closed-loop
client, and unlike a job group it also catches broadcast-exchange jobs,
which run on threads that do not inherit the caller's group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int | str = "self") -> float:
    """User + system CPU seconds of process ``pid`` from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def proc_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


class Py4jCounter:
    """Counts the py4j round trips the client thread makes, by wrapping the
    gateway client's ``send_command``; ``paused`` excludes the tracer's own
    calls. Calls from other threads (py4j callbacks, object finalizers run
    there) are not the client's and are not counted."""

    def __init__(self, sc):
        self.calls = 0
        self.paused = False
        self._thread = threading.get_ident()
        self._client = sc._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(*a, **kw):
            if not self.paused and threading.get_ident() == self._thread:
                self.calls += 1
            return self._orig(*a, **kw)

        self._client.send_command = send_command

    def close(self) -> None:
        del self._client.send_command


class PlanPhases:
    """Catalyst phase times of every query the engine executes while
    attached, loop iterations inside a builder included.

    A ``QueryExecutionListener`` implemented in Python over the py4j
    callback server: Spark's listener bus hands it each finished
    QueryExecution, which it only keeps. ``drain`` reads their
    ``tracker().phases()`` and counts each QueryExecution once, however many
    actions reuse it. Read it while the tracer is paused."""

    PHASES = ("analysis", "optimization", "planning")

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._bus = sc._jsc.sc().listenerBus()
        self._handle = None
        self._done: list = []
        self._seen: set[int] = set()

    # QueryExecutionListener, called on Spark's listener bus thread.
    def onSuccess(self, func_name, qe, duration_ns):
        self._done.append(qe)

    def onFailure(self, func_name, qe, exception):
        self._done.append(qe)

    def attach(self) -> None:
        self._bus.waitUntilEmpty()  # earlier queries are not ours
        self._manager.register(self)
        # Each call that passes a Python object makes a new Java proxy, so
        # keep the registered one to unregister it.
        listeners = self._manager.listListeners()
        self._handle = listeners[len(listeners) - 1]

    def detach(self) -> None:
        self._bus.waitUntilEmpty()
        self._manager.unregister(self._handle)
        self._handle = None
        self._done.clear()

    def drain(self) -> dict[str, int]:
        """{phase: ms} summed over the queries finished since the last
        drain, plus ``executions``, the number of new QueryExecutions."""
        self._bus.waitUntilEmpty()
        done, self._done = self._done, []
        out = dict.fromkeys(self.PHASES, 0)
        out["executions"] = 0
        for qe in done:
            qid = qe.id()
            if qid in self._seen:
                continue
            self._seen.add(qid)
            out["executions"] += 1
            phases = qe.tracker().phases()
            for p in self.PHASES:
                if phases.contains(p):
                    out[p] += phases.get(p).get().durationMs()
        return out


class Tracer:
    """In-memory span recorder with per-boundary counter snapshots."""

    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self.py4j = Py4jCounter(sc)

    def close(self) -> None:
        self.py4j.close()

    @contextmanager
    def paused(self):
        """Context in which py4j calls are not counted (the tracer's own
        bookkeeping, such as status-store reads)."""
        self.py4j.paused = True
        try:
            yield
        finally:
            self.py4j.paused = False

    def _snap(self) -> dict:
        calls = self.py4j.calls
        with self.paused():
            job = self._dag.nextJobId()
        return {"t": time.perf_counter(), "job": job, "py4j": calls,
                "cpu": time.process_time()}

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"run_id": self.run_id, "span_id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        s = self._snap()
        try:
            yield rec
        finally:
            e = self._snap()
            self._stack.pop()
            rec.update(start=s["t"], end=e["t"], job0=s["job"],
                       job1=e["job"], py4j_calls=e["py4j"] - s["py4j"],
                       python_cpu_s=e["cpu"] - s["cpu"])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


class StatusStore:
    """Job and stage counters read from Spark's status store over py4j.
    The traced session raises ``spark.ui.retainedJobs/Stages`` so a pass
    that runs many jobs is not truncated."""

    _STAGE_FIELDS = ("numCompleteTasks", "executorRunTime", "executorCpuTime",
                     "inputBytes", "inputRecords", "outputBytes",
                     "shuffleReadBytes", "shuffleWriteBytes",
                     "memoryBytesSpilled", "diskBytesSpilled")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._bus = self._jsc.listenerBus()
        self._mx = sc._jvm.java.lang.management.ManagementFactory

    def jobs(self, job0: int, job1: int) -> dict[int, dict]:
        """{job_id: {"stages": [...]}} for jobs in [job0, job1), after the
        listener bus has delivered every event."""
        self._bus.waitUntilEmpty()
        out = {}
        for j in range(job0, job1):
            data = self._store.job(j)
            ids = data.stageIds()
            out[j] = {"stages": [ids.apply(i) for i in range(ids.size())]}
        return out

    def stage(self, stage_id: int) -> dict:
        sd = self._store.lastStageAttempt(stage_id)
        rec = {f: getattr(sd, f)() for f in self._STAGE_FIELDS}
        rec["skipped"] = sd.status().toString() == "SKIPPED"
        return rec

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize()
                   for r in self._jsc.getRDDStorageInfo())

    def gc_ms(self) -> int:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime())
                   for i in range(beans.size()))

    def jit_ms(self) -> int:
        return self._mx.getCompilationMXBean().getTotalCompilationTime()
