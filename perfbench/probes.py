"""What the benchmark reads from outside the engine.

- ``TriggerLog``: a StreamingQueryListener; progress events grouped by runId.
- ``Spans``: wrappers on the public functions each layer is entered through.
- ``status_snapshot``: jobs and stages from Spark's status store (UI off).
- ``jvm_live_heap_mb``, ``jvm_peak_rss_mb``: driver JVM memory.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener


class TriggerLog(StreamingQueryListener):
    """Collects micro-batch progress per runId.

    The listener bus is asynchronous: a key is closed (``take``) only after
    the bus is empty and every query seen starting has terminated, so no
    trigger is counted against the next key."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._started: list[str] = []
        self._terminated: set[str] = set()
        self._progress: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self._started.append(str(event.runId))
            self._cv.notify_all()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batchId": p.batchId,
            "durationMs": dict(p.durationMs),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "rows_updated": s.numRowsUpdated,
                    "rows_removed": s.numRowsRemoved,
                    "commit_ms": s.commitTimeMs,
                    "memory_bytes": s.memoryUsedBytes,
                }
                for s in p.stateOperators
            ],
        }
        with self._cv:
            self._progress[str(p.runId)].append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()

    def take(self, spark: SparkSession, timeout_s: float = 30.0) -> dict[str, list[dict]]:
        """Wait until every started query has terminated, then hand over
        (and forget) the progress of those runs, keyed by runId."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        with self._cv:
            ok = self._cv.wait_for(
                lambda: set(self._started) <= self._terminated, timeout=timeout_s
            )
            if not ok:
                raise RuntimeError(
                    f"streaming queries never terminated: {set(self._started) - self._terminated}"
                )
            runs = {r: self._progress.pop(r, []) for r in self._started}
            self._terminated -= set(self._started)
            self._started.clear()
        return runs


class Spans:
    """Wall-clock spans around calls into the engine's layers.

    Catalog modules bind some of these names at import
    (``from flod_spark.streaming import replay_stream``), so ``install``
    rebinds every module attribute that holds the original function, not
    only the defining module's."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []

    def _record(self, name: str, t0: float, **extra) -> None:
        self.events.append({"name": name, "start": t0, "end": time.time(), **extra})

    def _rebind(self, original, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("flod_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is original:
                        setattr(mod, attr, wrapper)
                        self._undo.append((mod, attr, original))

    def install(self) -> None:
        from flod_spark import io
        from flod_spark.streaming import replay

        for fn in (replay.replay_stream, replay.replay_buckets):

            def wrapped(*a, _fn=fn, _sig=inspect.signature(fn), **kw):
                out_dir = _sig.bind(*a, **kw).arguments["out_dir"]
                t0 = time.time()
                try:
                    return _fn(*a, **kw)
                finally:
                    n = len(glob.glob(os.path.join(out_dir, "*.parquet")))
                    self._record("replay", t0, files=n)

            self._rebind(fn, functools.wraps(fn)(wrapped))

        pin = io.pinned_stream_partitions

        @functools.wraps(pin)
        def pinned(*a, **kw):
            @contextlib.contextmanager
            def span():
                t0 = time.time()
                try:
                    with pin(*a, **kw) as v:
                        yield v
                finally:
                    self._record("drain", t0)

            return span()

        self._rebind(pin, pinned)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._undo):
            setattr(mod, attr, original)
        self._undo.clear()

    def within(self, name: str, t0: float, t1: float) -> list[dict]:
        return [e for e in self.events if e["name"] == name and t0 <= e["start"] < t1]


def _to_json(spark: SparkSession, obj) -> object:
    """One JVM object as JSON data: Jackson serializes the v1 status API
    classes in a single round trip."""
    jvm = spark.sparkContext._jvm
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala_mod.__getattr__("MODULE$")
    )
    return json.loads(mapper.writeValueAsString(obj))


def status_snapshot(spark: SparkSession) -> tuple[list[dict], list[dict]]:
    """All jobs and stage attempts the status store holds."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = _to_json(spark, store.jobsList(None))
    stages = _to_json(
        spark,
        store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ),
    )
    return jobs, stages


def task_run_quantiles(spark: SparkSession, stage: dict) -> tuple[float, float] | None:
    """(median, max) executor run time of one stage attempt's tasks."""
    sc = spark.sparkContext
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = sc._jsc.sc().statusStore().taskSummary(stage["stageId"], stage["attemptId"], q)
    if not summary.isDefined():
        return None
    med, mx = _to_json(spark, summary.get())["executorRunTime"]
    return med, mx


def jvm_live_heap_mb(spark: SparkSession) -> float:
    """Heap in use right after a full collection: what the driver JVM
    retains (state store caches, memory sinks, broadcasts). The least of
    three collections a second apart, so objects a background thread still
    holds for a moment after the last query do not count."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for i in range(3):
        if i:
            time.sleep(1)
        jvm.java.lang.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
    return min(used) / 2**20


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live descendant
    (the JVM and its Python workers), each with the children it reaped."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        parent[int(d)] = int(rest[1])
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _HZ


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ
