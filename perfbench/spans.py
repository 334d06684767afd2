"""Spans around the benchmark's calls into the program's layers.

Each span gets its own Spark job group, so the status store can answer
"what did the jobs under this call cost". Spans stay in memory and are
written out once, when the run ends. With tracing off every method is a
pass-through that touches no Spark state.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.hook_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        h0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"span-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.hook_s += rec["start"] - h0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            self.hook_s += time.perf_counter() - rec["end"]

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, obj, *methods: str) -> None:
        """Trace public methods of one instance, including the calls the
        instance makes to itself (e.g. ``run`` -> ``run_bucket``)."""
        if not self.enabled:
            return
        for m in methods:
            bound = getattr(obj, m)
            name = f"{type(obj).__name__}.{m}"
            setattr(obj, m, functools.partial(self.call, name, bound))

    def subtree(self, rec: dict | None) -> list[dict]:
        """``rec`` and every span opened under it."""
        if rec is None:
            return []
        ids, out = {rec["id"]}, [rec]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["id"])
            spans.append(dict(s, dur_s=dur, self_s=dur - child))
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f, indent=1, default=str)
