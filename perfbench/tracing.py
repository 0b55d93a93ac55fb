"""In-memory spans around the engine's public calls, and Spark-side
counts for one op.

Spans are recorded from the benchmark's side of each call: the engine
is not edited, its module attributes are wrapped for the traced run
only and restored afterwards. A span carries (name, start, end, parent,
op). Threads the engine starts (the batched EP1/EP2 pools) have no
parent on their own stack; their spans attach to the op's root span.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: tuple[str, int] | None = None  # (op id, root span id)
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        if stack:
            parent = stack[-1]
        else:
            parent = self._op[1] if self._op else None
        op_id = op if op is not None else (self._op[0] if self._op else None)
        if op is not None:
            self._op = (op, sid)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if op is not None:
                self._op = None
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "op": op_id,
                })

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned twin until restore()."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def per_op(self, name: str) -> dict[str, float]:
        """Summed duration of the spans called `name`, per op."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] += s["end"] - s["start"]
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of its interval that its children cover (children of a
        threaded parent may overlap; their union is subtracted)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]


def wait_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status store holds the finished op's jobs and stages."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages and tasks Spark ran under one job group
    (call wait_listener_bus first). A stage that was skipped because
    its shuffle output already existed ran no task and is not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_counts(df) -> dict[str, int]:
    """Exchanges and Python-worker nodes in the executed (final
    adaptive) plan of a materialised DataFrame."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    exchanges = python = 0
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif _PYTHON_NODE.search(node):
            python += 1
    return {"exchanges": exchanges, "python_nodes": python}
