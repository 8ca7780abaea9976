"""Spans, engine counters and memory probes.

A traced run records one span per call into a walden_spark layer
(name, start, end, parent, op id) in memory and writes them out at
exit. Each depth-1 layer span also carries the engine work it caused:
Spark jobs run under a per-span job group, so stage and task counts
come from the status tracker, and input / shuffle-write bytes and GC
time are before/after deltas of cumulative JVM counters. An untraced
run uses :class:`NullTracer`, whose spans cost one context-manager
entry and read nothing.
"""

from __future__ import annotations

import contextlib
import gc
import json
import time

# heap_live_mb takes at least / at most this many full collections
HEAP_GC_MIN_ROUNDS = 4
HEAP_GC_MAX_ROUNDS = 8


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Jvm:
    """Read-only probes into the driver JVM (local mode: the only JVM)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def heap_live_mb(self) -> float:
        """Heap in use after full collections, repeated 0.2 s apart
        until two readings agree: memory the engine's cleaner
        thread frees only after a collection has queued its references
        (broadcast blocks, shuffle state) takes two or three rounds to
        go, and Python proxies that pin JVM objects are dropped first."""
        gc.collect()
        prev = None
        for i in range(HEAP_GC_MAX_ROUNDS):
            self.spark._jvm.java.lang.System.gc()
            used = self._memory.getHeapMemoryUsage().getUsed() / 2**20
            if i + 1 >= HEAP_GC_MIN_ROUNDS and abs(used - prev) < 1.0:
                break
            prev = used
            time.sleep(0.2)
        return used

    def io_totals(self) -> tuple[float, float]:
        """(input bytes, shuffle-write bytes) summed over executors,
        after the listener bus has delivered every pending event."""
        self._bus.waitUntilEmpty()
        execs = self._store.executorList(True)
        inp = shw = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            inp += e.totalInputBytes()
            shw += e.totalShuffleWrite()
        return inp, shw

    def group_work(self, group: str) -> tuple[int, int, int]:
        """(completed stages, tasks, input records) of every job run
        under ``group``; input records are rows read from storage."""
        stages = tasks = records = 0
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            stages += job.numCompletedStages()
            tasks += job.numTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    records += self._store.lastStageAttempt(ids.apply(i)).inputRecords()
                except Exception:  # a skipped stage has no attempt
                    pass
        return stages, tasks, records


class NullTracer:
    overhead_s = 0.0

    def set_op(self, op_id) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def probe(self, fn):
        return None


class Tracer:
    """In-memory span recorder. ``overhead_s`` accumulates the time
    spent reading counters and recording spans, so the traced run can
    state its own cost on ``ops_per_s``."""

    def __init__(self, jvm: Jvm):
        self.jvm = jvm
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op = None
        self._seq = 0

    def set_op(self, op_id) -> None:
        self._op = op_id

    def count(self, name: str, value: float = 1.0) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def probe(self, fn):
        """Run a trace-only measurement; its time counts as overhead."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None}
        top = not self._stack
        if top:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.jvm.sc.setJobGroup(group, name)
            io0, gc0 = self.jvm.io_totals(), self.jvm.gc_ms()
        self.spans.append(rec)
        self._stack.append(idx)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            self._stack.pop()
            if top:
                io1, gc1 = self.jvm.io_totals(), self.jvm.gc_ms()
                rec["stages"], rec["tasks"], rec["input_records"] = self.jvm.group_work(group)
                rec["input_bytes"] = io1[0] - io0[0]
                rec["shuffle_write_bytes"] = io1[1] - io0[1]
                rec["gc_ms"] = gc1 - gc0
                self.jvm.sc.setJobGroup("perfbench-idle", "")
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def self_times(self) -> list[float]:
        """Per span: duration minus the part its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=st) for s, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts, **extra}, f)
