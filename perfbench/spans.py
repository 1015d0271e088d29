"""In-memory span tracer.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
wraps public functions of the program's modules (and pyspark actions) for
the life of a traced run and ``Tracer.restore`` puts the originals back.
The program's code is not modified. Each span keeps name, start, end,
parent, thread and run id; ``Tracer.dump`` writes them out as JSON.

A span opened on a thread with no open span of its own (the crawl engine's
write pool threads) takes as parent the innermost span open on the thread
that created the tracer, which is the call that submitted the work.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import linecache
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the attrs dict so the
        block can attach counts. A disabled tracer records nothing."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(
                    sid, name, start, end, parent,
                    threading.current_thread().name, self.run_id, attrs,
                ))

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, site: bool = False, on_result=None):
        """Replace ``owner.attr`` with a spanning wrapper.

        ``site`` records the calling function and source line (used to tell
        the crawl loop's actions apart); ``on_result(attrs, result)`` may
        attach counts read from the return value."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if site:
                f = sys._getframe(1)
                attrs["site"] = f.f_code.co_name
                attrs["line"] = linecache.getline(f.f_code.co_filename, f.f_lineno).strip()
            with tracer.span(name, **attrs) as a:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(a, out)
                return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- analysis ------------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, pred=None) -> float:
        return sum(s.dur for s in self.named(name) if pred is None or pred(s))

    def descendants(self, span: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [span.id]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s.id)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that descendant spans cover, on any
        thread."""
        return span.dur - covered(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.descendants(span)]
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
