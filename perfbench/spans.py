"""Span recorder with a Spark job census, for traced benchmark runs.

Spans are recorded from the benchmark's own code around calls into each
layer's public functions; the program under test is not edited. Each
span has a name, start, end, parent and request id, and is kept in
memory until the run writes it out. A span opened with ``census=True``
puts its Spark jobs in a job group of its own and, when it closes,
counts those jobs' stages, tasks, executor run time, shuffle, input and
spill from the status store (which works with ``spark.ui.enabled`` off).
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager, nullcontext

_MB = 1024.0 * 1024.0
CENSUS_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_write_mb",
    "shuffle_read_mb", "input_mb", "spill_mb",
)


def empty_census() -> dict:
    return dict.fromkeys(CENSUS_KEYS, 0)


def add_census(total: dict, part: dict) -> None:
    for k in CENSUS_KEYS:
        total[k] += part.get(k, 0)


def job_census(sc, group: str) -> dict:
    """Census of every job the job group ran. Skipped stages (whose
    shuffle output was reused) are not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = empty_census()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(sd.numTasks())
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
        out["shuffle_read_mb"] += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / _MB
        out["input_mb"] += sd.inputBytes() / _MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
    return out


class Tracer:
    """Thread-safe span recorder. Each span's ``overhead_s`` is the time
    the recorder spent on its own bookkeeping for that span (census
    queries included); ``overhead_s(spans)`` adds them up."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, req=None, census: bool = False):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if req is None:
            req = parent["req"] if parent else sid
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None, "req": req}
        group = prev_group = None
        if census and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            group = f"perfbench-span-{sid}"
            self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec["census"] = job_census(self.sc, group)
            rec["overhead_s"] = (t0 - t_in) + (time.perf_counter() - t1)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, on_result=None):
        """``fn`` wrapped in a span; ``on_result(rec, result)`` may add
        attributes from the call's result."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        return traced


def maybe_span(tracer: Tracer | None, name: str, census: bool = True):
    """A span when tracing, else a no-op context yielding a scratch dict."""
    return nullcontext({}) if tracer is None else tracer.span(name, census=census)


def overhead_s(spans: list[dict]) -> float:
    """The tracer's own bookkeeping time, summed over ``spans``."""
    return sum(s["overhead_s"] for s in spans)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover
    (children's intervals are merged first, so overlapping children are
    not subtracted twice)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
