"""Spans and counters for the traced run.

The benchmark's own code wraps every call it makes into a baloo_spark layer
in ``tracer.span(layer, name)``. A span records its name, layer, parent,
iteration and query, wall time, the Python driver's CPU, the CPU of Spark's
Python worker processes (read from /proc) and the JVM's codegen counters at
its two boundaries. Each span also runs its Spark jobs under its own job
group, so the jobs' stage metrics (read from Spark's status store once the
iteration ends) are charged to the span that submitted them. Catalyst phase
times come from a QueryExecutionListener. Everything stays in memory until
``dump`` writes it out at the end of the run.

``NullTracer`` is the untraced stand-in: its spans do nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()
_CLK = os.sysconf("SC_CLK_TCK")

STAGE_FIELDS = {  # StageData getter -> counter name
    "numTasks": "tasks", "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns", "jvmGcTime": "gc_ms",
    "resultSize": "result_bytes", "inputBytes": "input_bytes",
    "outputBytes": "output_bytes", "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class NullTracer:
    def span(self, layer, name):
        return _NULL


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK


def descendants_cpu_s(root: int) -> float:
    """CPU seconds of every process below ``root``: Spark's Python daemon
    and the workers it forks, which are the JVM's only child processes."""
    total, todo = 0.0, _children(root)
    while todo:
        pid = todo.pop()
        total += _proc_cpu_s(pid)
        todo += _children(pid)
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class _PhaseListener:
    """org.apache.spark.sql.util.QueryExecutionListener, implemented over
    the py4j callback server: while active, records each finished
    execution's Catalyst phase durations once per QueryExecution."""

    def __init__(self, jvm):
        self._jvm, self._seen, self.phases = jvm, set(), []
        self.active = False

    def onSuccess(self, func, qe, duration_ns):
        if not self.active:
            return
        key = self._jvm.System.identityHashCode(qe)
        if key in self._seen:
            return
        self._seen.add(key)
        it = qe.tracker().phases().iterator()
        got = {}
        while it.hasNext():
            kv = it.next()
            got[kv._1()] = kv._2().durationMs()
        self.phases.append(got)

    def onFailure(self, func, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PhaseListener(jvm)
        spark._jsparkSession.listenerManager().register(self.listener)
        self.spans, self._stack, self.iteration, self.query = [], [], None, None

    def set_active(self, on: bool) -> None:
        """Record Catalyst phases from now on (or stop), once the events of
        the executions before this call have been delivered."""
        self._jsc.listenerBus().waitUntilEmpty()
        self.listener.active = on

    def _sample(self):
        return {"t": time.perf_counter(), "cpu": time.process_time(),
                "pyworker": descendants_cpu_s(self.jvm_pid),
                "compile_ns": int(self._cg.compileTime()),
                "compiles": int(self._cg_hist.getCount())}

    def _set_group(self, sid):
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            s = self.spans[sid]
            self.sc.setJobGroup(f"perfbench-{sid}", f"{s['layer']}:{s['name']}")

    @contextlib.contextmanager
    def span(self, layer, name):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "iteration": self.iteration, "query": self.query}
        self.spans.append(rec)
        rec["start"] = self._sample()
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            self._set_group(parent)
            rec["end"] = self._sample()

    def collect_jobs(self, spans) -> None:
        """Charge every Spark job of ``spans`` (and its completed stages'
        metrics) to the span whose job group submitted it."""
        self._jsc.listenerBus().waitUntilEmpty()
        store, tracker = self._jsc.statusStore(), self.sc.statusTracker()
        for rec in spans:
            c = defaultdict(int)
            for job in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                c["jobs"] += 1
                ids = store.job(job).stageIds().mkString(",")
                for stage in (int(x) for x in ids.split(",") if x):
                    sd = store.lastStageAttempt(stage)
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    c["stages"] += 1
                    for getter, key in STAGE_FIELDS.items():
                        c[key] += int(getattr(sd, getter)())
            rec["spark"] = dict(c)

    def take_phases(self) -> list:
        self._jsc.listenerBus().waitUntilEmpty()
        out, self.listener.phases = self.listener.phases, []
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans) -> dict:
    """Seconds per layer of span time not covered by child spans."""
    dur = {s["id"]: s["end"]["t"] - s["start"]["t"] for s in spans}
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += dur[s["id"]]
    out = defaultdict(float)
    for s in spans:
        out[s["layer"]] += dur[s["id"]] - child[s["id"]]
    return out
