"""In-memory span tracer placed around the public calls of each layer.

Spans come only from the benchmark's own files: :meth:`Tracer.install`
replaces module functions and class methods with timing wrappers and
:meth:`Tracer.uninstall` puts the originals back, so nothing inside the
package changes and an untraced run executes the original code.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span and ``op`` the workload name and index of the
benchmark operation (a pass or a request) it belongs to.  All traced
calls happen on the driver's main thread, so spans nest strictly and a
span's self time is its duration minus the durations of its direct
children.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


def span_cost_s(calls: int = 20_000, rounds: int = 7) -> float:
    """Seconds one traced wrapper adds to a call: an empty function called
    through an enabled wrapper against the bare function, median over
    ``rounds``.  A throwaway tracer records the spans, so none is kept."""
    probe = Tracer()
    probe.enabled, probe.op = True, None

    def empty():
        pass

    wrapped = probe.wrap("calibrate", empty)
    costs = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        for _ in range(calls):
            empty()
        t1 = time.perf_counter()
        for _ in range(calls):
            wrapped()
        t2 = time.perf_counter()
        costs.append(((t2 - t1) - (t1 - t0)) / calls)
        probe.spans.clear()
    return statistics.median(costs)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self.counts: dict[tuple, int] = defaultdict(int)
        self.enabled = False
        self.op = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    # -- recording -------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, i: int) -> None:
        self.spans[i][2] = time.perf_counter()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name, self.op] += n

    def total(self, name: str, ops) -> int:
        return sum(n for (k, op), n in self.counts.items()
                   if k == name and op in ops)

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            i = self._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(i)
            if on_result is not None:
                on_result(out)
            return out
        return traced

    # -- instrumentation -------------------------------------------------
    def install(self, targets) -> None:
        """``targets``: ``(owner, attr, span_name, on_result)`` where owner
        is a module or a class.  Originals are resolved through the MRO
        before anything is patched, so a subclass that inherits a patched
        method is wrapped once, under its own name."""
        resolved = []
        for owner, attr, name, on_result in targets:
            if isinstance(owner, type):
                base = next(k for k in owner.__mro__ if attr in k.__dict__)
                orig = base.__dict__[attr]
            else:
                orig = getattr(owner, attr)
            resolved.append((owner, attr, name, on_result, orig))
        for owner, attr, name, on_result, orig in resolved:
            own = isinstance(owner, type) and attr in owner.__dict__
            self._patches.append((owner, attr, orig, own))
            setattr(owner, attr, self.wrap(name, orig, on_result))

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if isinstance(owner, type) and not own:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- reading ---------------------------------------------------------
    def self_times(self, ops) -> dict[str, tuple[float, int]]:
        """name -> (total self seconds, number of spans), over the spans
        of the operations ``ops``."""
        child = [0.0] * len(self.spans)
        for _name, start, end, parent, _op in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for i, (name, start, end, _parent, op) in enumerate(self.spans):
            if op in ops:
                out[name][0] += (end - start) - child[i]
                out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def inclusive_times(self, ops) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for name, start, end, _parent, op in self.spans:
            if op in ops:
                out[name] += end - start
        return dict(out)

    def spans_of(self, ops) -> int:
        return sum(1 for span in self.spans if span[4] in ops)

    def write(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump([{"name": n, "start": s - t0, "end": e - t0,
                        "parent": p, "op": op}
                       for n, s, e, p, op in self.spans], fh)
