"""Tracing for the benchmark's traced run: spans around layer calls,
per-call Spark counters read through job tags, and a streaming
listener.

Everything here is recorded from the benchmark's side of the layer
boundary. Nothing in the engine is changed: spans around calls the
engine makes internally (load_table, stage_events, run_to_memory) come
from swapping those names, in the engine's loaded modules, for
recording wrappers for the length of a traced pass.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time per layer (the span name's prefix before the first
    '.'): each span's duration minus the time its children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


@contextmanager
def patched(tracer: Tracer, targets: dict[str, object]):
    """Swap every binding of each target function in the engine's loaded
    modules for a wrapper that records a span named after the target.
    `targets` maps span name -> the original function. The originals
    are restored on exit."""
    wrappers = {}
    for name, fn in targets.items():

        def make(name=name, fn=fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        wrappers[id(fn)] = (fn, make())
    swapped = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (
            modname.startswith("capstone_etl_spark") or modname == "__spark_entry__"
        ):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrappers.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                swapped.append((mod, attr, val))
    try:
        yield
    finally:
        for mod, attr, val in swapped:
            setattr(mod, attr, val)


COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def tagged_counters(spark, tag: str) -> dict[str, float]:
    """Totals over the jobs that carried `tag`: jobs, executed stages
    and their tasks, shuffle/spill/input bytes, executor run, CPU and GC
    time. Waits for the listener bus first, so every finished job is in
    the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = list(jsc.statusTracker().getJobIdsForTag(tag))
    stage_ids = set()
    for jid in job_ids:
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(it.next())
    out = dict.fromkeys(COUNTER_KEYS, 0)
    out["jobs"] = len(job_ids)
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
    return out


@contextmanager
def job_tag(spark, tag: str):
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


class StreamProgress:
    """A StreamingQueryListener implemented directly against the JVM
    interface (PySpark's own wrapper fails to decode the job tags the
    traced run sets). Collects every progress event's JSON."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, jevent):
        self.started += 1

    def onQueryProgress(self, jevent):
        self.progress.append(json.loads(jevent.progress().json()))

    def onQueryIdle(self, jevent):
        pass

    def onQueryTerminated(self, jevent):
        self.terminated += 1

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


@contextmanager
def stream_listener(spark):
    from pyspark import SparkContext
    from pyspark.java_gateway import ensure_callback_server_started

    gw = SparkContext._gateway
    ensure_callback_server_started(gw)
    listener = StreamProgress()
    jlistener = gw.jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(listener)
    streams = spark._jsparkSession.streams()
    streams.addListener(jlistener)
    try:
        yield listener
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        streams.removeListener(jlistener)


def stream_totals(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch progress of every streaming query: trigger,
    addBatch, planning and commit (offset log + commit log) wall time,
    state-store commit time summed over tasks, input and sink rows, and
    the state size each query held at its last batch."""
    out = {
        "batches": len(progress),
        "trigger_s": 0.0,
        "add_batch_s": 0.0,
        "planning_s": 0.0,
        "commit_s": 0.0,
        "state_commit_task_s": 0.0,
        "input_rows": 0,
        "sink_rows": 0,
        "state_rows": 0,
        "state_bytes": 0,
    }
    last: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs", {})
        out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        ops = p.get("stateOperators", [])
        out["state_commit_task_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        out["input_rows"] += p.get("numInputRows", 0)
        out["sink_rows"] += (p.get("sink") or {}).get("numOutputRows", 0) or 0
        last[p["runId"]] = p
    for p in last.values():
        for o in p.get("stateOperators", []):
            out["state_rows"] += o.get("numRowsTotal", 0)
            out["state_bytes"] += o.get("memoryUsedBytes", 0)
    return out


def jvm_peak_mb(spark) -> float:
    """Peak JVM memory: the sum of every memory pool's peak usage (heap
    and non-heap), read through the JVM's own management beans."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        total += pools.get(i).getPeakUsage().getUsed()
    return total / 2**20
