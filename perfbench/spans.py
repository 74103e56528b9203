"""Spans around the program's public entry points, recorded from outside.

The traced run patches timing wrappers onto the classes and module
functions listed in :data:`ENTRY_POINTS`; the untraced run never imports
this patching, so its end-to-end numbers carry no tracing cost.  Spans are
kept in memory and written out when the run ends.

A span's parent is the innermost open span of its own thread.  The
consumers run some commits on ``ThreadPoolExecutor`` workers, so the
traced run also wraps ``ThreadPoolExecutor.submit``: a task starts with
the submitting thread's innermost open span as its parent, and time spent
in a helper thread is subtracted from the span that submitted it.  A span
opened on any other thread falls back to the root span of the current
epoch or query.  Self time is a span's duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

PKG = "flink_cdc_log_connectors_spark"

#: (module, attribute path, span name).  Methods are patched on their class;
#: a module function is patched in every module that binds it by name.
ENTRY_POINTS = (
    ("streaming.joins", "ChangelogJoin.process_batch", "streaming.joins.process_batch"),
    ("streaming.aggregates", "ChangelogAggregate.process_batch",
     "streaming.aggregates.process_batch"),
    ("streaming.statetable", "PartitionedStateTable.upsert", "streaming.statetable.upsert"),
    ("streaming.statetable", "PartitionedStateTable.read", "streaming.statetable.read"),
    ("streaming.statetable", "PartitionedStateTable.read_buckets",
     "streaming.statetable.read_buckets"),
    ("streaming.ttl", "EventTimeTTL.stage", "streaming.ttl.stage"),
    ("streaming.ttl", "EventTimeTTL.finalize", "streaming.ttl.finalize"),
    ("streaming.sink", "ExactlyOnceAppendSink.process_batch", "streaming.sink.process_batch"),
    ("streaming.sink", "ExactlyOnceAppendSink.compact_epochs", "streaming.sink.compact_epochs"),
    ("sources.debezium", "parse_change_rows", "sources.debezium.parse_build"),
    ("streaming.joins", "parse_change_rows", "sources.debezium.parse_build"),
    ("streaming.aggregates", "parse_change_rows", "sources.debezium.parse_build"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: (context id, root span id) of the epoch or query in progress
        self._ctx: tuple[str | None, int | None] = (None, None)
        self._installed = False

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: str | None = None):
        """Time a block.  ``root`` opens a new epoch/query context: spans
        on helper threads attach to it as their parent."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._ctx[1]
        if root is not None:
            self._ctx = (root, sid)
        ctx = self._ctx[0]
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if root is not None:
                self._ctx = (None, None)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                                   "parent": None if root is not None else parent,
                                   "ctx": ctx})

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def inherit(self, fn):
        """``fn`` made to run, on whichever thread, under the calling
        thread's innermost open span."""
        stack = self._stack()
        if not stack:
            return fn
        parent = stack[-1]

        @functools.wraps(fn)
        def under_parent(*args, **kwargs):
            inner = self._stack()
            inner.append(parent)
            try:
                return fn(*args, **kwargs)
            finally:
                inner.pop()

        return under_parent

    def patch_pools(self) -> None:
        """Make ``ThreadPoolExecutor`` tasks inherit the submitter's span."""
        submit = ThreadPoolExecutor.submit

        @functools.wraps(submit)
        def traced_submit(pool, fn, /, *args, **kwargs):
            return submit(pool, self.inherit(fn), *args, **kwargs)

        ThreadPoolExecutor.submit = traced_submit

    def install(self) -> None:
        """Patch the entry points and thread pools; once per process."""
        if self._installed:
            return
        self._installed = True
        self.patch_pools()
        for mod_name, attr, name in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            *owner_path, leaf = attr.split(".")
            owner = functools.reduce(getattr, owner_path, mod)
            setattr(owner, leaf, self._wrap(getattr(owner, leaf), name))

    # -- aggregation ---------------------------------------------------------
    def named(self, name: str, ctxs=None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (ctxs is None or s["ctx"] in ctxs)]

    def total(self, name: str, ctxs=None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, ctxs))

    def count(self, name: str, ctxs=None) -> int:
        return len(self.named(name, ctxs))

    def self_time(self, name: str, ctxs=None) -> float:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = 0.0
        for s in self.named(name, ctxs):
            kids = [(max(a, s["start"]), min(b, s["end"]))
                    for a, b in children.get(s["id"], [])]
            out += (s["end"] - s["start"]) - union_length(kids)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_jobs(event_log_dir: str) -> list[dict]:
    """Spark jobs from the event logs in a directory (one per session, each
    numbering its jobs from 0): submission and completion wall time
    (seconds) and the number of tasks that ran for each."""
    out: list[dict] = []
    for fname in sorted(os.listdir(event_log_dir)):
        out.extend(_read_job_log(os.path.join(event_log_dir, fname)))
    return out


def _read_job_log(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1000.0,
                             "end": None, "tasks": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is not None:
                    jobs[jid]["tasks"] += 1
    return [j for j in jobs.values() if j["end"] is not None]


def window_jobs(jobs: list[dict], start: float, end: float) -> dict:
    """Jobs submitted inside ``[start, end]``: their count, task count,
    the time at least one of them ran, and the rest of the window."""
    inside = [j for j in jobs if start <= j["start"] <= end]
    busy = union_length((j["start"], min(j["end"], end)) for j in inside)
    return {"jobs": len(inside), "tasks": sum(j["tasks"] for j in inside),
            "busy_s": busy, "gap_s": max(0.0, (end - start) - busy)}
