"""In-memory spans around the benchmark's calls into the engine.

A span records name, layer, start, end, its parent span and the unit it
belongs to. Spans stay in memory; after a unit ends its spans are given
the spark.* / pyudf.* counters of the jobs submitted inside them (each
job is credited to the innermost span open at its submission), and the
whole trace is written out when the benchmark ends.
"""

from __future__ import annotations

import concurrent.futures
import functools
import itertools
import json
import threading
import time
from concurrent.futures.thread import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager
from unittest import mock

from sparkstore import empty_counters


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "unit": parent["unit"] if parent else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        if sp["unit"] is None:
            sp["unit"] = sp["id"]
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            self.spans.append(sp)

    def unit_spans(self, unit_id: int) -> list:
        return [s for s in self.spans if s["unit"] == unit_id]

    def attribute(self, unit_id: int, snapshot) -> dict:
        """Give every span of one unit its counters: ``total`` over the
        span's whole interval and ``self`` over the jobs whose innermost
        open span it is, plus ``self_s`` (duration minus child spans).
        Returns the unit span. Raises unless every job in the snapshot
        (all jobs since the unit's Marker) was submitted inside one of the
        unit's spans and had ended when the snapshot was read; then the
        per-span job counts add up to the unit's total."""
        spans = self.unit_spans(unit_id)
        by_id = {s["id"]: s for s in spans}
        depth = {}
        for s in spans:
            d, p = 0, s["parent"]
            while p is not None:
                d, p = d + 1, by_id[p]["parent"]
            depth[s["id"]] = d
        unit = by_id[unit_id]

        def innermost(t_ms):
            best = None
            for s in spans:
                if s["start"] * 1e3 <= t_ms < s["end"] * 1e3:
                    if best is None or depth[s["id"]] > depth[best["id"]]:
                        best = s
            return best

        owner, outside = {}, []
        for j in snapshot.jobs:
            sub = j["submissionTime"]
            s = innermost(sub) if sub is not None else None
            if s is None or j["status"] == "RUNNING":
                outside.append(j["jobId"])
            else:
                owner[j["jobId"]] = s["id"]
        if outside:
            # submitted before or after the unit's span, or still running
            # when the unit returned: work the unit left behind
            raise RuntimeError(
                f"jobs {outside[:5]} ran outside the spans of unit {unit_id}")
        for s in spans:
            s["total"] = snapshot.counters(s["start"], s["end"])
            mine = {jid for jid, sid in owner.items() if sid == s["id"]}
            s["self"] = (snapshot.counters(s["start"], s["end"],
                                           job_filter=lambda j: j["jobId"] in mine)
                         if mine else empty_counters())
            children = [c for c in spans if c["parent"] == s["id"]]
            s["self_s"] = (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in children)
        return unit

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f, indent=1,
                      default=str)


@contextmanager
def spans_around(tracer: Tracer, targets):
    """For the block's duration, replace each ``owner.attr`` in
    ``targets`` — (owner, attr, span name, layer) — by a wrapper that runs
    the original inside a span."""
    def wrap(fn, name, layer):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    with ExitStack() as stack:
        for owner, attr, name, layer in targets:
            stack.enter_context(mock.patch.object(
                owner, attr, wrap(getattr(owner, attr), name, layer)))
        yield


@contextmanager
def serial_pools(tracer: Tracer):
    """For the block's duration, every ``concurrent.futures``
    ThreadPoolExecutor runs its tasks one at a time on a single worker
    that inherits the submitting thread's open spans. The unit's spans
    then never overlap in time, so each job has one innermost span."""
    class SerialPool(ThreadPoolExecutor):
        def __init__(self, max_workers=None, *args, **kwargs):
            super().__init__(1, *args, **kwargs)

        def submit(self, fn, /, *args, **kwargs):
            stack = list(tracer._stack())

            def run():
                tracer._local.stack = list(stack)
                return fn(*args, **kwargs)
            return super().submit(run)

    concurrent.futures.ThreadPoolExecutor = SerialPool
    try:
        yield
    finally:
        concurrent.futures.ThreadPoolExecutor = ThreadPoolExecutor
