"""Spans around the calls into each layer, recorded from outside the
package.

A traced run replaces the names a layer exposes at their import sites
(e.g. ``deduplicator_spark.plans.pipeline.verify_pairs_two_stage``) with
wrappers.  Each call opens a span and gives Spark its own job group, so
the jobs a call runs eagerly are attributed to the innermost open span.
Spark is lazy: a span around a call that only builds a plan records just
that call's eager jobs; the rest runs in whichever span later consumes
the plan (usually a checkpoint write of ``plans.pipeline``).

Spans are kept in memory and read after the run.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable

ROOT = "run"


@dataclass
class Span:
    sid: int
    layer: str
    group: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        if self.end is None:
            raise ValueError(f"span {self.sid} ({self.layer}) is still open")
        return self.end - self.start


@dataclass
class Record:
    """What a wrapped call returned, kept for counting after the run."""

    layer: str
    name: str
    args: tuple
    kwargs: dict
    result: Any


class Tracer:
    """Nested spans on one thread, each with its own Spark job group.

    ``set_group`` is called with a group id on span entry and with the
    enclosing span's group on exit.
    """

    def __init__(
        self,
        tag: str,
        set_group: Callable[[str], None] = lambda g: None,
        clock: Callable[[], float] = time.perf_counter,
    ):
        self.tag = tag
        self.set_group = set_group
        self.clock = clock
        self.spans: list[Span] = []
        self.records: list[Record] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        s = Span(sid, layer, f"{self.tag}-{sid}", parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.set_group(s.group)
        s.start = self.clock()
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if parent is not None:
                self.set_group(parent.group)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover.
        Spans on one thread nest, so children never overlap."""
        out = {s.sid: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.duration
        return out

    def layer_self_times(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
        return out

    def groups_by_layer(self) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for s in self.spans:
            out.setdefault(s.layer, []).append(s.group)
        return out

    def wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                result = fn(*args, **kwargs)
            self.records.append(Record(layer, name, args, kwargs, result))
            return result

        return traced

    def probe(self, name: str, fn: Callable) -> Callable:
        """Record a call's result under the open span's layer, with no
        span of its own."""

        @functools.wraps(fn)
        def probed(*args, **kwargs):
            result = fn(*args, **kwargs)
            layer = self._stack[-1].layer if self._stack else ROOT
            self.records.append(Record(layer, name, args, kwargs, result))
            return result

        return probed

    def results(self, name: str) -> list[Record]:
        return [r for r in self.records if r.name == name]


class Patches:
    """Attribute replacements at import sites, undone by ``restore``.

    A site is ``(module, "attr")`` or ``(module, "Class.method")``.
    """

    def __init__(self) -> None:
        self._undo: list[tuple[Any, str, Any]] = []

    def replace(self, module: str, attr: str, make: Callable[[Callable], Callable]) -> None:
        owner: Any = importlib.import_module(module)
        *path, name = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        original = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
        self._undo.append((owner, name, original))
        setattr(owner, name, make(original))

    def restore(self) -> None:
        while self._undo:
            owner, name, original = self._undo.pop()
            setattr(owner, name, original)


def install(tracer: Tracer, sites: list[tuple[str, str, str]], probes: list[tuple[str, str]]) -> Patches:
    """Wrap every ``(module, attr, layer)`` site in a span and every
    ``(module, attr)`` probe in a result recorder."""
    patches = Patches()
    try:
        for module, attr, layer in sites:
            name = attr.rsplit(".", 1)[-1]
            patches.replace(module, attr, lambda f, l=layer, n=name: tracer.wrap(l, n, f))
        for module, attr in probes:
            name = attr.rsplit(".", 1)[-1]
            patches.replace(module, attr, lambda f, n=name: tracer.probe(n, f))
    except BaseException:
        patches.restore()
        raise
    return patches
