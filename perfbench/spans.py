"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around the public calls into each layer of the
program: the benchmark's own ``Router.handle`` call is the root of a
request, and ``install`` wraps the engine, the time-series operators,
pyspark's reader (file listing), frame builder and actions (execution).
Nothing inside the package is edited; the wrappers are removed again by
``uninstall``.

A span is ``(request id, name, start, end, parent index)``. Tracing is
per request: a thread records spans only between ``begin`` and ``end``,
so untraced requests pass through the wrappers with one attribute test.
Each traced request also runs under its own Spark job group, and its
jobs, stages and task metrics are read back from the status store after
the request has returned (outside its timed span).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# span name -> layer whose self time it counts towards
LAYER_OF = {
    "rest.handle": "rest.self_ms",
    "engine.points": "engine.plan_ms",
    "engine.last": "engine.plan_ms",
    "engine.first": "engine.plan_ms",
    "engine.since": "engine.plan_ms",
    "engine.range": "engine.plan_ms",
    "engine.length": "engine.plan_ms",
    "ops.last_n": "engine.plan_ms",
    "ops.first_n": "engine.plan_ms",
    "ops.since": "engine.plan_ms",
    "ops.time_range": "engine.plan_ms",
    "ops.tag_filter": "engine.plan_ms",
    "ops.delete_predicate": "engine.delete_ms",
    "ops.aggregate_result": "ops.aggregate_ms",
    "storage.list": "storage.list_ms",
    "exec.toPandas": "exec.collect_ms",
    "exec.collect": "exec.collect_ms",
    "exec.count": "exec.collect_ms",
    "exec.createDataFrame": "exec.create_frame_ms",
    "engine.append_points": "engine.append_ms",
    "engine.delete": "engine.delete_ms",
}
# layers reported as self time per traced request; writes and deletes
# are reported per call instead
PER_REQUEST_LAYERS = ("engine.plan_ms", "exec.collect_ms", "exec.create_frame_ms",
                      "ops.aggregate_ms", "rest.self_ms", "storage.list_ms")

ENGINE_METHODS = ("points", "last", "first", "since", "range", "length", "delete", "append_points")
OPS_FUNCTIONS = ("last_n", "first_n", "since", "time_range", "tag_filter", "aggregate_result", "delete_predicate")


def store_files(path: str) -> dict[str, int]:
    """Data files of an engine store: relative path -> size in bytes."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


class Tracer:
    """Spans and Spark job metrics of traced requests, kept in memory."""

    def __init__(self, spark, store_path: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store_path = store_path
        self.local = threading.local()
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self.writes: list[dict] = []  # one per append_points / delete call
        self.patched: list[tuple[object, str, object]] = []
        self.next_id = 0

    # -- request boundaries --------------------------------------------------

    def begin(self, label: str) -> None:
        with self.lock:
            rid = self.next_id
            self.next_id += 1
        self.local.rid = rid
        self.local.stack = []
        self.local.spans = []
        self.local.label = label
        self.sc.setJobGroup(f"perfbench-{rid}", label)

    def end(self, status: int, body: str, latency_s: float) -> dict:
        """Close the request: clear its job group, then (off the clock)
        read its Spark metrics and keep its spans. Returns the request's
        trace record."""
        rid = self.local.rid
        self.local.rid = None
        self.sc._jsc.clearJobGroup()
        spans = self.local.spans
        req = {"rid": rid, "label": self.local.label, "status": status,
               "bytes_out": len(body), "latency_ms": latency_s * 1e3}
        req.update(self._spark_metrics(f"perfbench-{rid}"))
        with self.lock:
            self.spans.extend(spans)
            self.requests.append(req)
        return req

    def active(self) -> bool:
        return getattr(self.local, "rid", None) is not None

    def _spark_metrics(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        m = dict(jobs=0, stages=0, tasks=0, task_ms=0.0, wait_ms=0.0,
                 input_records=0, shuffle_bytes=0, spill_bytes=0)
        for jid in tracker.getJobIdsForGroup(group):
            m["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks()
                m["task_ms"] += sd.executorRunTime()
                m["input_records"] += sd.inputRecords()
                m["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    m["wait_ms"] += max(0, first.get().getTime() - sub.get().getTime())
        return m

    # -- spans -----------------------------------------------------------------

    def _push(self, name: str) -> dict:
        stack = self.local.stack
        span = {"rid": self.local.rid, "name": name, "start": time.perf_counter(),
                "end": None, "parent": stack[-1]["idx"] if stack else None,
                "idx": len(self.local.spans)}
        self.local.spans.append(span)
        stack.append(span)
        return span

    def _pop(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self.local.stack.pop()

    def root(self, fn, *args):
        """Run ``fn(*args)`` as the root span of the current request."""
        span = self._push("rest.handle")
        try:
            return fn(*args)
        finally:
            self._pop(span)

    def _wrapped(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            if name in ("engine.append_points", "engine.delete"):
                return tracer._traced_write(name, fn, args, kwargs)
            span = tracer._push(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._pop(span)

        return wrapper

    def _traced_write(self, name: str, fn, args, kwargs):
        """Writes also record how many store files and bytes they add.
        The listing happens outside the write's span, under its own
        ``trace.probe`` span, so it is charged to no program layer."""
        probe = self._push("trace.probe")
        before = store_files(self.store_path)
        self._pop(probe)
        span = self._push(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(span)
            probe = self._push("trace.probe")
            after = store_files(self.store_path)
            self._pop(probe)
            added = {f: s for f, s in after.items() if f not in before}
            with self.lock:
                self.writes.append({
                    "rid": self.local.rid, "kind": name,
                    "ms": (span["end"] - span["start"]) * 1e3,
                    "files_added": len(added), "bytes_added": sum(added.values()),
                })

    def install(self, engine_cls, ops_module, spark) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        targets = [(engine_cls, m, f"engine.{m}") for m in ENGINE_METHODS]
        targets += [(ops_module, f, f"ops.{f}") for f in OPS_FUNCTIONS]
        frame_cls = type(spark.range(1))
        targets += [(frame_cls, m, f"exec.{m}") for m in ("toPandas", "collect", "count")]
        targets += [(type(spark), "createDataFrame", "exec.createDataFrame"),
                    (DataFrameReader, "parquet", "storage.list")]
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            self.patched.append((owner, attr, original))
            setattr(owner, attr, self._wrapped(name, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self.patched):
            setattr(owner, attr, original)
        self.patched.clear()

    # -- output ----------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in ("rid", "name", "start", "end", "parent")}) + "\n")
            for r in self.requests:
                f.write(json.dumps({"request": r}) + "\n")

    def self_times(self) -> tuple[dict[int, dict[str, float]], float]:
        """Per request, self milliseconds by layer, and the largest gap
        between a request's summed self times and its root span."""
        by_rid: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_rid[s["rid"]].append(s)
        out: dict[int, dict[str, float]] = {}
        worst = 0.0
        for rid, spans in by_rid.items():
            child_ms = defaultdict(float)
            for s in spans:
                if s["parent"] is not None:
                    child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
            layers: dict[str, float] = defaultdict(float)
            total = 0.0
            for s in spans:
                own = (s["end"] - s["start"]) * 1e3 - child_ms[s["idx"]]
                total += own
                layers[LAYER_OF.get(s["name"], s["name"])] += own
            root = next(s for s in spans if s["parent"] is None)
            worst = max(worst, abs(total - (root["end"] - root["start"]) * 1e3))
            out[rid] = dict(layers)
        return out, worst
