"""Spans recorded around calls into the engine, plus Spark's own counters
read from outside the engine.

A span is (id, name, parent, start, end, run id). Each span also pushes a
Spark job tag for its lifetime, so every job the engine fires is
attributable to the innermost open span: the event log carries the tag set
of each job and stage. Streaming progress arrives through a Python
``StreamingQueryListener`` and is attributed by wall-clock time.
Everything stays in memory until the run ends.
"""

from __future__ import annotations

import gc
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

TAG_PREFIX = "pbspan-"
MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. Disabled, it only hands out ``None``."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run": self.run_id,
            "wall_start": time.time(),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.addJobTag(f"{TAG_PREFIX}{sid}")
        try:
            yield rec
        finally:
            self.sc.removeJobTag(f"{TAG_PREFIX}{sid}")
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._open.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its direct children
        (children of one span never overlap: the client is a single thread)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_time[s["id"]] for s in self.spans}

    def descendants(self, root: int) -> set[int]:
        out = {root}
        for s in self.spans:  # parents always precede their children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def innermost_at(self, wall: float, within: set[int]) -> int | None:
        best = None
        for s in self.spans:
            if s["id"] in within and s["wall_start"] <= wall <= s.get("wall_end", 0.0):
                best = s["id"]  # later-opened spans are nested deeper
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class ProgressRecorder(StreamingQueryListener):
    """Keeps every streaming progress event with its trigger wall time."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_wall"] = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        with self._lock:
            self.events.append(p)

    def onQueryTerminated(self, event):
        pass


def catalyst_phases_ms(spark, df) -> dict[str, float]:
    """Catalyst's phase times for a fresh QueryExecution over the frame's
    logical plan: the analysis, optimization and planning that the ``noop``
    save repeats for that plan. The frame's own tracker is not used: a
    phase measured twice there (a reused frame, such as the readers' memo)
    reads as one wall-clock window from the first start to the last end."""
    fresh = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    qe = fresh.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / MB


class Jvm:
    """Driver JVM counters through its MXBeans and /proc."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def full_gc(self) -> float:
        """Drop the Python proxies of dead JVM objects, collect the heap and
        return the heap in use, in MB."""
        gc.collect()
        self._jvm.java.lang.System.gc()
        mf = self._jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def settle(self, max_s: float = 6.0) -> float:
        """Wait until the JIT compiler threads go quiet (under 10 % of one
        thread busy over a quarter second), so the first timed pass does not
        share the cores with compilations queued by the warm-up. Returns the
        seconds waited."""
        bean = self._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        t0 = time.perf_counter()
        last = bean.getTotalCompilationTime()
        while time.perf_counter() - t0 < max_s:
            time.sleep(0.25)
            now = bean.getTotalCompilationTime()
            if now - last < 25:
                break
            last = now
        return time.perf_counter() - t0

    def live_heap_mb(self) -> float:
        """Heap in use once the listener bus has drained (the status store
        takes what the last jobs posted) and full collections stop freeing
        memory: Spark's ContextCleaner drops unreachable RDD and shuffle
        blocks asynchronously, one collection after their last reference
        died."""
        self._bus.waitUntilEmpty(10_000)
        used = self.full_gc()
        for _ in range(8):
            time.sleep(0.25)
            now = self.full_gc()
            if now > used - 1.0:
                return min(now, used)
            used = now
        return used

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _span_tags(props: dict | None) -> set[int]:
    tags = (props or {}).get("spark.job.tags") or ""
    return {int(t[len(TAG_PREFIX):]) for t in tags.split(",") if t.startswith(TAG_PREFIX)}


def attribute_jobs(events: list[dict], tracer: Tracer) -> tuple[dict, dict, int]:
    """Map every job and stage of the event log to the innermost span that
    was open when it was submitted. Job tags give the span set; a job with
    none of our tags falls back to its submission time, and is counted in
    ``untagged`` when that lands inside a span."""
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    untagged = 0
    all_ids = {s["id"] for s in tracer.spans}

    def pick(props, wall_ms):
        nonlocal untagged
        tags = _span_tags(props)
        if tags:
            return max(tags)
        sid = tracer.innermost_at(wall_ms / 1000.0, all_ids) if wall_ms else None
        untagged += sid is not None
        return sid

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = pick(ev.get("Properties"), ev.get("Submission Time"))
            if sid is not None:
                job_span[ev["Job ID"]] = sid
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            tags = _span_tags(ev.get("Properties"))
            if tags:
                stage_span[info["Stage ID"]] = max(tags)
            else:
                sid = tracer.innermost_at((info.get("Submission Time") or 0) / 1000.0, all_ids)
                if sid is not None:
                    stage_span[info["Stage ID"]] = sid
    return job_span, stage_span, untagged


def task_totals(events: list[dict], stage_span: dict[int, int], spans: set[int]) -> dict:
    """Scheduler and executor counters of the tasks whose stage ran in one
    of ``spans``."""
    t = defaultdict(float)
    stages = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or stage_span.get(ev["Stage ID"]) not in spans:
            continue
        stages.add(ev["Stage ID"])
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        wall_ms = info["Finish Time"] - info["Launch Time"]
        run_ms = m.get("Executor Run Time", 0)
        deser_ms = m.get("Executor Deserialize Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        t["tasks"] += 1
        t["delay_s"] += max(0, wall_ms - run_ms - deser_ms) / 1000.0
        t["run_s"] += run_ms / 1000.0
        t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        t["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
        t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
        t["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    t["stages"] = len(stages)
    return t


def stream_totals(progress: list[dict], tracer: Tracer, spans: set[int]) -> dict:
    """Micro-batch phase times and state sizes of the progress events whose
    trigger started inside one of ``spans``. State sizes are each query's
    last reported figure."""
    t = defaultdict(float)
    last_state: dict[str, list] = {}
    for p in progress:
        if tracer.innermost_at(p["_wall"], spans) is None:
            continue
        d = p.get("durationMs") or {}
        t["batches"] += 1
        t["trigger_ms"] += d.get("triggerExecution", 0)
        t["add_batch_ms"] += d.get("addBatch", 0)
        t["query_planning_ms"] += d.get("queryPlanning", 0)
        t["wal_commit_ms"] += d.get("walCommit", 0)
        t["commit_offsets_ms"] += d.get("commitOffsets", 0)
        t["latest_offset_ms"] += d.get("latestOffset", 0)
        t["input_rows"] += p.get("numInputRows", 0)
        ops = p.get("stateOperators") or []
        t["rows_dropped_by_watermark"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        if ops:
            last_state[p["runId"]] = ops
    for ops in last_state.values():
        t["state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        t["state_mem_mb"] += sum(o.get("memoryUsedBytes", 0) for o in ops) / MB
    return t
