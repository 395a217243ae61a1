"""In-memory span recorder used by the traced run.

Spans nest per thread: a span opened while another is open on the same
thread becomes its child and inherits its operation id. Nothing is
written while the benchmark measures; ``dump`` writes JSON lines at
the end."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext

from stats import Span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.pass_no = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def _span(self, name: str, op: str | None, attrs: dict):
        parent = self.current()
        span = Span(
            sid=next(self._ids),
            parent=parent.sid if parent else 0,
            op=op or (parent.op if parent else name),
            name=name,
            start=time.perf_counter(),
            attrs={"pass": self.pass_no, **attrs},
        )
        stack = self._stack()
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def span(self, name: str, op: str | None = None, **attrs):
        """Context manager yielding the open Span, or None when tracing
        is off (so untraced passes pay one attribute check)."""
        if not self.enabled:
            return nullcontext()
        return self._span(name, op, attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "parent": s.parent,
                            "op": s.op,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )
