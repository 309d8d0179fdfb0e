"""Tracing and resource probes used only by the benchmark.

`Tracer` records spans by replacing module attributes with timing
wrappers, so the program itself is never edited: a layer's public
function is wrapped on the module its callers look it up on. `ProcProbe`
reads CPU time and resident memory of the driver, its JVM and the
PySpark worker processes from ``/proc``. `job_stats` reads the Spark
jobs an operation ran from the driver's status store.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


class Tracer:
    """Spans (name, start, end, parent, op) plus counters, kept in memory.

    ``op_id`` names what the spans belong to: an operation number, or
    ``"prepare"`` for the workload's data-set creation; while it is None
    (set-up cycles, warm-up) wrappers record nothing. Spans opened on a
    thread with no open span (a streaming sink's callback thread) take the
    operation's root span as parent, so every span of one operation hangs
    off one tree."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[tuple[str, str], float] = defaultdict(float)
        self.op_id: int | str | None = None
        self._root: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _phase(self, op) -> str:
        return "prepare" if op == "prepare" else "ops"

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        if root:
            self._root = sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if root:
                self._root = None
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": self.op_id}
                )

    def count(self, name: str, n: float = 1) -> None:
        self.counters[(self._phase(self.op_id), name)] += n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` and counts calls; ``on_result(tracer, result)`` may count
        more."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                result = fn(*args, **kwargs)
            tracer.count(name + ".calls")
            if on_result is not None:
                on_result(tracer, result)
            return result

        wrapper.__wrapped__ = fn
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- reductions, per phase ("prepare" or "ops") ----------------------------

    def total(self, name: str, phase: str = "ops") -> float:
        return self.counters.get((phase, name), 0.0)

    def durations(self, name: str, phase: str = "ops") -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and self._phase(s["op"]) == phase]

    def self_times(self, phase: str = "ops") -> dict[str, float]:
        """Σ self time per layer (first dotted component of the span
        name): duration minus the union of the child spans' intervals."""
        spans = [s for s in self.spans if self._phase(s["op"]) == phase]
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"].split(".")[0]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- /proc -------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _hwm_mb(pid: int, key: str = "VmHWM") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcProbe:
    """CPU seconds and resident memory of the driver (this process), the
    JVM it launched, and the JVM's descendants (the PySpark daemon and
    its workers). Worker CPU includes workers that already exited,
    through their parents' reaped-children counters."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers_peak_mb = 0.0

    def descendants(self) -> list[int]:
        kids: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    kids[int(st[1])].append(int(name))
        out, todo = [], list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> dict[str, float]:
        """Cumulative CPU seconds per side; updates the workers' peak RSS."""
        jvm = _stat(self.jvm_pid)
        workers_cpu = 0.0
        workers_rss = 0.0
        if jvm is not None:
            # reaped children of the JVM: daemons of stopped contexts
            workers_cpu += (int(jvm[13]) + int(jvm[14])) / _TICK
        for pid in self.descendants():
            st = _stat(pid)
            if st is None:
                continue
            workers_cpu += sum(int(x) for x in st[11:15]) / _TICK
            workers_rss += int(st[21]) * _PAGE_MB
        self.workers_peak_mb = max(self.workers_peak_mb, workers_rss)
        t = os.times()
        return {
            "jvm": (int(jvm[11]) + int(jvm[12])) / _TICK if jvm else 0.0,
            "driver_py": t.user + t.system,
            "py_workers": workers_cpu,
        }

    def jvm_peak_mb(self) -> float:
        return _hwm_mb(self.jvm_pid)

    def peak_rss_mb(self) -> float:
        return self.jvm_peak_mb() + _hwm_mb(os.getpid()) + self.workers_peak_mb


# -- Spark jobs ----------------------------------------------------------------


def job_stats(spark, first_job: int) -> tuple[dict, int]:
    """Jobs with id >= ``first_job`` from the driver's status store
    (kept with the UI off). Returns totals, the job intervals in epoch
    seconds, and the next unseen job id."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "intervals": []}
    jid = first_job
    while True:
        try:
            jd = store.job(jid)
        except Exception:  # noqa: BLE001 — py4j raises NoSuchElementException past the last job
            break
        out["jobs"] += 1
        out["stages"] += jd.stageIds().size()
        out["tasks"] += jd.numTasks() - jd.numSkippedTasks()
        out["failed_tasks"] += jd.numFailedTasks()
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined():
            end = done.get().getTime() / 1e3 if done.isDefined() else time.time()
            out["intervals"].append((sub.get().getTime() / 1e3, end))
        jid += 1
    return out, jid
