"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run). ``wrap`` replaces a function at
the module attribute through which the program calls it, so the program's
own code runs unmodified between the recorded boundaries; ``restore`` puts
the originals back. Spans are kept in memory; ``records`` hands them out
to be written when the benchmark ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        # (name, start, end, parent); a span's id is its index, the root's -1
        self.spans: list[tuple[str, float, float, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack = [-1]
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, self._stack[-1]))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, parent = self.spans[sid]
            self.spans[sid] = (n, start, time.perf_counter(), parent)

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Record a span around every call of ``module.attr``; ``count``
        maps a call's result to a number added to ``counts[name]``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                self.counts[name] += count(out)
            return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def totals(self) -> dict[str, float]:
        """Seconds spent inside spans of each name."""
        out: dict[str, float] = defaultdict(float)
        for name, start, end, _ in self.spans:
            out[name] += end - start
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds of each name's spans not covered by their child spans."""
        out = self.totals()
        for _, start, end, parent in self.spans:
            if parent >= 0:
                out[self.spans[parent][0]] -= end - start
        return out

    def records(self) -> list[dict]:
        return [
            {"id": sid, "name": n, "start": s, "end": e, "parent": p, "run": self.run_id}
            for sid, (n, s, e, p) in enumerate(self.spans)
        ] + [{"run": self.run_id, "count": n, "value": v} for n, v in self.counts.items()]
