"""Span recording for the traced run, and the arithmetic on spans.

The server launcher wraps public functions of each layer (module =
layer) with :meth:`Tracer.wrap`. Nothing in ``swanlake_spark`` changes:
the wrappers replace module and class attributes in the server process
before the Flight server starts. A wrapper costs one thread-local test
on a request that is not traced.

Each span is ``(id, parent, root, name, start, end, extra)`` with times
from ``time.monotonic`` (CLOCK_MONOTONIC, shared by every process on the
host), so the load generator can match a server handler span to the
client operation that caused it by session id and time window.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time


class Tracer:
    """Records spans for the requests of the sessions in ``sessions``.

    A request's root span (its Flight handler, :meth:`root`) decides
    whether the request is traced; wrapped functions then record spans
    only on a thread that is serving a traced request, so one run can
    trace some clients and leave the others untouched."""

    def __init__(self) -> None:
        self.sessions: set[str] = set()
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def active(self) -> bool:
        return bool(getattr(self._local, "stack", None))

    def current_root(self) -> int:
        st = self._stack()
        return st[0] if st else 0

    @contextlib.contextmanager
    def root(self, name: str, session: str, extra: dict):
        """Root span of one request; traced only for a chosen session."""
        if session not in self.sessions:
            yield False
            return
        extra["session"] = session
        with self._record(name, extra):
            yield True

    @contextlib.contextmanager
    def span(self, name: str, extra: dict | None = None):
        """A child span, recorded only inside a traced request."""
        if not self.active:
            yield
            return
        with self._record(name, extra):
            yield

    @contextlib.contextmanager
    def _record(self, name: str, extra: dict | None):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else 0
        root = st[0] if st else sid
        st.append(sid)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            st.pop()
            self.spans.append((sid, parent, root, name, t0, t1, extra))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self._record(name, None):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_cm(self, name: str, fn):
        """Wrap a context-manager factory so the span covers entering it
        only (for example, the wait to take a lock)."""

        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with self.span(name):
                    stack.enter_context(fn(*args, **kwargs))
                yield

        return wrapper


def patch_function(module, attr: str, replacement) -> None:
    """Replace ``module.attr`` and every alias of the same function that
    an already-imported ``swanlake_spark`` module bound with
    ``from ... import``."""
    original = getattr(module, attr)
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith("swanlake_spark"):
            continue
        for name, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, name, replacement)


# ---------------------------------------------------------------------------
# Span arithmetic (pure; used by the load generator and the self-tests)
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals (overlaps count once)."""
    total = 0.0
    end = None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        elif b > end:
            end = b
    if end is not None:
        total += end - start
    return total


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. Children of one parent can
    overlap (threads), so covered time is a union, clipped to the
    parent."""
    by_id = {s[0]: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[1] in by_id:
            children.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for sid, s in by_id.items():
        t0, t1 = s[4], s[5]
        kids = [(max(a, t0), min(b, t1)) for a, b in children.get(sid, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[sid] = (t1 - t0) - union_length(kids)
    return out


def outermost(spans: list[tuple], prefix: str) -> list[tuple]:
    """Spans named with ``prefix`` that have no ancestor with the same
    prefix, so recursive or nested calls of one layer count once."""
    by_id = {s[0]: s for s in spans}
    out = []
    for s in spans:
        if not s[3].startswith(prefix):
            continue
        p = by_id.get(s[1])
        nested = False
        while p is not None:
            if p[3].startswith(prefix):
                nested = True
                break
            p = by_id.get(p[1])
        if not nested:
            out.append(s)
    return out
