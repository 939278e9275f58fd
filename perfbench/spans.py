"""In-memory spans around the library's public functions, recorded from
outside the library.

A span has a name, a start, an end, the span that caused it and the id of
the call it belongs to. Spans are kept in a list and written out when the
run ends. ``Tracer.patch`` swaps a library function for a wrapper that opens
a span around it, in its defining module and in every module of the
package that imported it by name; ``Tracer.unpatch`` puts the originals
back. A disabled tracer records nothing and costs one branch per span.
"""

from __future__ import annotations

import itertools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import wraps


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    call_id: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "id": self.span_id,
            "parent": self.parent_id,
            "call": self.call_id,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span_id = next(self._ids)
        s = Span(
            name,
            span_id,
            parent.span_id if parent else None,
            parent.call_id if parent else span_id,
            time.perf_counter(),
            attrs=attrs,
        )
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def patch(self, package: str, module, attr: str, span_name: str = "", wrapper=None) -> None:
        """Replace ``module.attr`` everywhere ``package`` bound it: by
        ``wrapper`` if given, else by a wrapper that opens ``span_name``."""
        original = getattr(module, attr)
        if wrapper is None:

            @wraps(original)
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    return original(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, wrapper)
                    self._patched.append((mod, key, original))

    def unpatch(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name that no child span covers. Children run on the
    caller's thread, nested and one after another, so a span's self time is
    its duration minus its direct children's durations."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent_id is not None:
            child_time[s.parent_id] += s.duration
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.duration - child_time[s.span_id]
    return dict(out)


def totals(spans: list[Span]) -> dict[str, tuple[int, float]]:
    """(count, inclusive seconds) per span name."""
    out: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for s in spans:
        out[s.name][0] += 1
        out[s.name][1] += s.duration
    return {k: (n, t) for k, (n, t) in out.items()}
