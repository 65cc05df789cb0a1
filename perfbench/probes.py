"""Measurement helpers for the benchmark: spans, Spark status-store
deltas, /proc readings and the order-insensitive output digest.

Everything here reads from outside the engine. Spans wrap the
benchmark's own calls into the engine's public functions; the
per-layer counters are deltas of Spark's status store
(``sc._jsc.sc().statusStore()``) over a span; CPU time and peak RSS
come from ``/proc``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

HZ = os.sysconf("SC_CLK_TCK")


# -- spans --------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    run_id: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    kids = [(s.start, s.end) for s in spans
            if s.parent == span.name and s is not span and s.end is not None]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    """Keeps spans in memory; ``span(name)`` records one around a block
    and, once ``store`` is set, the status-store delta over it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.store: StatusStore | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        mark = self.store.mark() if self.store else None
        sp = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            if mark is not None:
                for k, v in self.store.delta(mark).items():
                    sp.counters[k] = sp.counters.get(k, 0) + v

    def finish(self) -> None:
        for sp in self.spans:
            sp.counters["wall_s"] = sp.duration
            sp.counters["self_s"] = self_time(sp, self.spans)

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "counters": s.counters}
            for s in self.spans
        ]


# -- Spark status store --------------------------------------------------

@dataclass
class StageRec:
    stage_id: int
    run_ms: int = 0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    peak_mem_bytes: int = 0


@dataclass
class Mark:
    """Status-store watermark taken at a span's start."""
    job_id: int
    stage_id: int
    gc_ms: int


def stage_delta(stages_newest_first, since_stage_id: int) -> dict:
    """Sum the stages newer than ``since_stage_id``.

    Stage ids only grow, and the store lists stages newest first, so
    the walk stops at the first stage the mark had already seen. A
    stage a later job skips keeps its id and so is never counted
    twice."""
    out = {"stages": 0, "busy_s": 0.0, "shuffle_bytes": 0,
           "shuffle_records": 0, "spill_bytes": 0, "peak_mem_bytes": 0}
    for st in stages_newest_first:
        if st.stage_id <= since_stage_id:
            break
        out["stages"] += 1
        out["busy_s"] += st.run_ms / 1000.0
        out["shuffle_bytes"] += st.shuffle_bytes
        out["shuffle_records"] += st.shuffle_records
        out["spill_bytes"] += st.spill_bytes
        out["peak_mem_bytes"] = max(out["peak_mem_bytes"], st.peak_mem_bytes)
    return out


class StatusStore:
    """Reads Spark's application status store through py4j."""

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _drain(self) -> None:
        # the store is fed by the listener bus; wait until it has seen
        # every event of the jobs that already returned
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self):
        it = self._store.stageList(
            None, False, False, self._no_quantiles, None
        ).iterator()
        while it.hasNext():
            s = it.next()
            yield StageRec(
                stage_id=s.stageId(),
                run_ms=s.executorRunTime(),
                shuffle_bytes=s.shuffleWriteBytes(),
                shuffle_records=s.shuffleWriteRecords(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                peak_mem_bytes=s.peakExecutionMemory(),
            )

    def _newest(self, seq, attr: str) -> int:
        it = seq.iterator()
        return getattr(it.next(), attr)() if it.hasNext() else -1

    def gc_ms(self) -> int:
        total = 0
        it = self._store.executorList(True).iterator()
        while it.hasNext():
            total += it.next().totalGCTime()
        return total

    def mark(self) -> Mark:
        self._drain()
        return Mark(
            job_id=self._newest(self._store.jobsList(None), "jobId"),
            stage_id=self._newest(
                self._store.stageList(None, False, False,
                                      self._no_quantiles, None),
                "stageId",
            ),
            gc_ms=self.gc_ms(),
        )

    def delta(self, mark: Mark) -> dict:
        now = self.mark()
        out = stage_delta(self._stages(), mark.stage_id)
        out["jobs"] = now.job_id - mark.job_id
        out["gc_s"] = (now.gc_ms - mark.gc_ms) / 1000.0
        return out


def quiesce(sc) -> None:
    """Let the JVM finish the previous pass's bookkeeping before the
    next is timed: drain the listener bus and collect its garbage."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc._jvm.System.gc()


# -- /proc ---------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime in ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(parts[1]), sum(int(x) for x in parts[11:15]))
    return out


def descendants(table=None) -> set[int]:
    """Every process below this one."""
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system) of every process below this one: the
    JVM and its Python workers. Children a process has reaped are in
    its cutime/cstime, so workers that exited still count."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(table)) / HZ


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_stat() -> dict[str, int]:
    """Host-wide iowait and steal ticks from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return {"iowait": int(fields[4]), "steal": int(fields[7])}


# -- output digest ---------------------------------------------------------

def digest(df) -> str:
    """Order-insensitive digest: ``<rows>:<sum of xxhash64(row)>``.

    Columns are hashed in name order, so a table read back with its
    partition column moved last gives the same digest. The sum is
    exact (decimal), so it cannot overflow. Doubles must be rounded by
    the caller."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("s"),
    ).first()
    return f"{row['n']}:{row['s'] or 0}"
