"""In-memory span tracer for the traced perfbench run.

Spans are recorded from the benchmark's own files: `Tracer.patch` swaps a
public entry point of a layer (a module function or a class method) for a
wrapper that opens a span around each call. Nothing inside the program is
changed on disk, and nothing is wrapped in an untraced run.

A span is [name, layer, start, end, parent, query_id]. A layer's self time
is the summed duration of its spans minus the part their child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list = []
        self.counts: dict = defaultdict(float)
        self.query_id = None
        self._stack: list = []
        self._undo: list = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, layer: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, layer, time.perf_counter(), None, parent,
                           self.query_id])
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        self._stack.pop()

    # -- wrapping ------------------------------------------------------------

    def wrap(self, fn, name: str, layer: str, before=None, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            idx = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(idx)
            if after is not None:
                after(args, kwargs, out)
            return out

        return wrapper

    def patch(self, owner, attr: str, name: str, layer: str,
              before=None, after=None) -> None:
        """Wrap `owner.attr` (a module or a class) in a span. `before(args,
        kwargs)` runs ahead of the call and may edit kwargs in place;
        `after(args, kwargs, result)` runs after it. Module functions are
        also rebound wherever a `sparkft` module imported them by name."""
        orig = owner.__dict__[attr]
        wrapper = self.wrap(orig, name, layer, before, after)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for key, m in list(sys.modules.items())
                        if key.startswith("sparkft") and m is not owner
                        and getattr(m, attr, None) is orig]
        for target in targets:
            setattr(target, attr, wrapper)
            self._undo.append((target, attr, orig))

    def restore(self) -> None:
        while self._undo:
            target, attr, orig = self._undo.pop()
            setattr(target, attr, orig)

    # -- reports -------------------------------------------------------------

    def _closed(self):
        return [s for s in self.spans if s[3] is not None]

    def inclusive_s(self, name: str) -> float:
        return sum(s[3] - s[2] for s in self._closed() if s[0] == name)

    def self_s_by_layer(self) -> dict:
        child = defaultdict(float)
        for s in self._closed():
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out: dict = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                out[s[1]] += (s[3] - s[2]) - child.get(i, 0.0)
        return dict(out)

    def span_cost_s(self) -> float:
        """Measured cost of one wrapped call over a bare call, per span."""
        n = 20000
        def noop():
            return None

        wrapped = Tracer().wrap(noop, "noop", "noop")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        return max((time.perf_counter() - t0) - bare, 0.0) / n

    def dump(self, path: str) -> None:
        keys = ("name", "layer", "start", "end", "parent", "query_id")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans],
                       "counts": dict(self.counts)}, f)
