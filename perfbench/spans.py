"""In-memory spans around calls into the program's modules.

A span records name, start, end, its parent span and the operation (tick
or query) it belongs to. ``patch`` wraps a module attribute so
every call through it opens a span; the wrappers exist only in traced
runs, and ``Tracer.close`` puts the originals back. Self time of a span
is its duration minus the time its direct children cover (calls are
sequential on the driver thread, so children never overlap).

The benchmark's own bookkeeping inside a traced operation (counting
files or rows around a call) runs in ``bench.hook`` spans, so it is
neither a layer's self time nor tracing overhead.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


HOOK = "bench.hook"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner: object, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``.
        ``before(args, kwargs)`` runs ahead of the span and its result is
        passed as ``ctx`` to ``after(rec, args, result, ctx)``, which runs
        once the span has closed; both run in ``bench.hook`` spans."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            ctx = None
            if before is not None:
                with self.span(HOOK):
                    ctx = before(args, kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None and rec is not None:
                with self.span(HOOK):
                    after(rec, args, out, ctx)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- aggregation ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def hook_s(self, op: str) -> float:
        """Time operation ``op`` spent in the benchmark's own hooks."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == HOOK and s["op"] == op)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
