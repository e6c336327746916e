"""Span recorder for the traced run.

Spans are recorded from outside the package: ``Tracer.wrap`` rebinds a
module attribute (the name the caller resolves, e.g. ``driver.merge_upsert``
rather than ``merge.merge_upsert``) to a wrapper that opens a span around
the call.  Each span runs its Spark jobs under its own job group, so the
jobs, stages and tasks it launched can be read back from the status
tracker.  Spans stay in memory; ``dump`` writes them once at the end.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seq = 0
        self.op = None  # id shared by every span of one operation

    # -- spans ------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": self._seq,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "group": f"perfbench-{self._seq}",
        }
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Rebind ``owner.attr`` to a spanned wrapper.  ``after(result)``
        runs inside the span (used to materialize lazy results)."""
        fn = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- counts -----------------------------------------------------------

    def count_jobs(self, op) -> None:
        """Attach Spark job / stage / task counts to every span of
        ``op``; call right after the operation, before the status
        tracker evicts its jobs."""
        st = self.sc.statusTracker()
        for s in self.spans:
            if s["op"] != op or "jobs" in s:
                continue
            jobs = st.getJobIdsForGroup(s["group"])
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si and si.numCompletedTasks > 0:  # skipped stages ran nothing
                        stages += 1
                        tasks += si.numCompletedTasks
            s["jobs"], s["stages"], s["tasks"] = len(jobs), stages, tasks

    # -- summaries --------------------------------------------------------

    def _timed(self):
        """Spans of timed operations (set-up spans have no ``op``)."""
        return [s for s in self.spans if s["op"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name, summed self time (span minus its children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self._timed():
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def inclusive_times(self) -> dict[str, float]:
        """Per span name, summed wall time."""
        out = defaultdict(float)
        for s in self._timed():
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def totals(self, key: str) -> dict[str, int]:
        """Per span name, summed ``key`` (jobs / stages / tasks)."""
        out = defaultdict(int)
        for s in self._timed():
            out[s["name"]] += s.get(key, 0)
        return dict(out)

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)
