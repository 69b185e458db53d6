"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a layer, a start, an end, a parent and the id of the
operation it belongs to. Layers are wrapped from outside: a module or
class attribute is replaced by a function that opens a span around the
original call. The catalog reaches operators through module aliases
(``D.passjoin_pairs``), so replacing the module attribute is enough.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def clip(intervals, lo: float, hi: float):
    """The parts of ``intervals`` that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer spent in spans of that layer and not in a child.

    A span's self time is its duration minus the part of its interval that
    its direct children cover.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_length(clip(children.get(s.id, []), s.start, s.end))
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans while ``enabled``; wrapped calls pass straight through
    when it is not."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, self.clock(), parent=parent,
                 op=self.op, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, layer: str, on_call=None):
        """Replace ``owner.attr`` by a spanned call. ``on_call(span, args,
        result)`` may annotate the span after the call returns."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer) as s:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, result)
                return result

        setattr(owner, attr, wrapper)

    def wrap_module_functions(self, module, layer: str) -> None:
        """Wrap every public function the module defines itself."""
        names = [
            n for n, f in vars(module).items()
            if inspect.isfunction(f) and f.__module__ == module.__name__
            and not n.startswith("_")
        ]
        short = module.__name__.rsplit(".", 1)[-1]
        for n in names:
            self.wrap(module, n, f"{layer}.{short}.{n}", layer)

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
