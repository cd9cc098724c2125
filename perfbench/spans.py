"""In-memory span tracer for the benchmark's traced runs.

The tracer replaces public entry points of the package at their module
or class attribute with a wrapper that records a span (name, start, end,
parent span, op id).  Spans stay in memory until :meth:`Tracer.dump`.
A span's self time is its duration minus the part of it covered by its
child spans.  Single-threaded by design: the benchmark has one client
thread, so the open-span stack is a plain list.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Optional

# span record fields, kept as lists for cheap appends
NAME, START, END, PARENT, OP = range(5)


def merged_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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


def self_times(spans: list[list]) -> dict[str, tuple[int, float]]:
    """``name -> (calls, self seconds)`` over closed spans."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp[PARENT] >= 0 and sp[END] is not None:
            children[sp[PARENT]].append((sp[START], sp[END]))
    out: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for i, sp in enumerate(spans):
        if sp[END] is None:
            continue
        dur = sp[END] - sp[START]
        covered = merged_length(children.get(i, []), sp[START], sp[END])
        acc = out[sp[NAME]]
        acc[0] += 1
        acc[1] += dur - covered
    return {k: (v[0], v[1]) for k, v in out.items()}


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.spans: list[list] = []
        self.op_id: Optional[str] = None
        self.ok_results: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, self.clock(), None, parent, self.op_id])
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        self.spans[idx][END] = self.clock()

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Trace calls of ``owner.attr`` (a function, method or
        classmethod) under span ``name`` until :meth:`unwrap_all`.  Only
        calls made while an op is open (``op_id`` set) are recorded; of
        those, a call that returns something other than ``None`` counts
        in ``ok_results[name]``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op_id is None:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(idx)
            if out is not None:
                self.ok_results[name] += 1
            return out

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    def self_times(self) -> dict[str, tuple[int, float]]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["name", "start", "end", "parent", "op"], "spans": self.spans},
                f,
            )
