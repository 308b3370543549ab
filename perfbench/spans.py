"""Spans, wrappers, Spark status-store snapshots and process-tree RSS.

Spans are taken from outside the engine: `Tracer.wrap` replaces a module
attribute with a timing wrapper, so every caller that looks the name up
at call time (`merge_mod.merge_into_parquet` in `cdc`, `deltatable.*` in
`merge`, `connected_components` in `graph`) is traced without editing the
engine. Spans stay in memory until the run writes them out.

Job, stage and task counts come from Spark's in-process status store
(works with the UI off), read by job and stage id outside timed regions.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Spans record name, start and end (epoch
    seconds, comparable with Spark job times), parent and the op id
    shared by every span of one batch or query."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: str | None = None
        #: wrappers pass straight through while False (untraced ops)
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": self.op_id, "parent": stack[-1]["id"] if stack else None}
        rec.update(attrs)
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace `module.attr` with a spanned wrapper until `unwrap_all`.
        `on_result(span, args, kwargs, result)` may annotate the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def select(self, name: str, op=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s and (op is None or s["op"] == op)
        ]

    def total(self, name: str, op=None) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, op))


class StatusStore:
    """Job/stage accounting from `SparkContext.statusStore()`.

    Lists come newest first, so `mark()` + `since(mark)` read only the
    jobs and stages an operation launched."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> tuple[int, int]:
        jobs, stages = self._jobs(), self._stages()
        j = jobs.apply(0).jobId() if jobs.size() else -1
        s = stages.apply(0).stageId() if stages.size() else -1
        return j, s

    def since(self, mark: tuple[int, int]) -> dict:
        """Counts and bytes of every job/stage newer than `mark`, plus the
        job intervals (epoch seconds) for in-job vs driver-only time."""
        jobs, stages = self._jobs(), self._stages()
        intervals = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark[0]:
                break
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out = {"jobs": len(intervals), "stages": 0, "tasks": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["input_bytes"] += s.inputBytes()
        out["intervals"] = intervals
        return out


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
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


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def process_tree() -> list[int]:
    """This process and every live descendant."""
    todo, seen = [os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def tree_peak_rss_mb() -> tuple[float, dict]:
    """Sum of per-process peak RSS (VmHWM) over the live process tree:
    the benchmark's Python driver, the JVM and its Python workers.
    Returns (total MB, MB by process name)."""
    by_name: dict[str, float] = {}
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return sum(by_name.values()), by_name
