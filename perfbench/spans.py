"""In-memory span tracing around the public calls into each layer.

Tracing lives entirely in the benchmark: ``Tracer.wrap`` swaps the
module attributes the engine resolves at call time for timing wrappers
and ``Tracer.restore`` puts the originals back. Each span records its
name, start, end, parent span and the request or batch id it belongs
to; spans stay in memory until ``dump`` writes them out at the end of
the run. A span's self time is its duration minus the part of its
interval that its children cover (``self_times``), so overlapping
children, such as the build phases that run on background threads, are
counted once.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans) -> dict[int, float]:
    """sid -> self time (duration minus the union of its children)."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: s.dur - covered(kids.get(s.sid, ()), s.start, s.end) for s in spans}


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    # -- context -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_rid(self, rid: str | None) -> None:
        self._tls.rid = rid

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        rid = getattr(self._tls, "rid", None)
        stack.append(sid)
        sp = Span(sid, name, self.clock(), 0.0, parent, rid, attrs)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add_span(self, name: str, start: float, end: float, parent: int | None,
                 rid: str | None = None, **attrs) -> Span:
        """Record a span whose interval is known only after the fact."""
        sp = Span(next(self._ids), name, start, end, parent, rid, attrs)
        with self._lock:
            self.spans.append(sp)
        return sp

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``before(span,
        args, kwargs)`` and ``after(span, result, args, kwargs)`` run
        inside the span and may add attributes to it."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if before is not None:
                    before(sp, args, kwargs)
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, out, args, kwargs)
                return out

        wrapper.__wrapped__ = orig
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self"] = st[s.sid]
                f.write(json.dumps(rec, default=str) + "\n")


def layout_phases(start: float, phases: dict, sequential: list[str],
                  background: dict[str, str]) -> list[tuple[str, float, float]]:
    """Place phase durations returned by the program on a timeline.

    ``sequential`` phases ran one after another from ``start``.
    ``background`` maps a phase that ran on another thread to the
    sequential phase at whose END it is anchored: ``"<name"`` places it
    ending there, ``">name"`` starting there. The returned intervals
    may overlap; self time counts their union once.
    """
    out, t, ends = [], start, {}
    for name in sequential:
        d = float(phases.get(name, 0.0))
        out.append((name, t, t + d))
        ends[name] = t + d
        t += d
    for name, anchor in background.items():
        d = float(phases.get(name, 0.0))
        at = ends.get(anchor[1:], start)
        if anchor[0] == "<":
            out.append((name, max(start, at - d), at))
        else:
            out.append((name, at, at + d))
    return out
