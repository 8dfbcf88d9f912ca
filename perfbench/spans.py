"""Driver-side spans for the traced run.

A span is (name, start, end, parent) on the wall clock, the clock Spark
stamps its events with, so event-log jobs can be attributed to spans by
time window. Spans are kept in memory and read after the run.

`install` wraps public functions of the engine that the benchmark does
not call directly (the `build_index` inside a streaming commit, the
term-dictionary lookup inside a query) for the duration of a traced
run; `uninstall` restores them. With tracing off nothing is wrapped and
`span` costs one branch.

Spans assume one client thread (the benchmark's closed loop).
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: Counter = Counter()
        self._stack: list[Span] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def wrap(self, name: str, fn, on_call=None):
        """fn run inside a span `name`; on_call(tracer, *args) counts."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(self, *args)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, name: str, on_call=None) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, on_call))

    def install(self) -> None:
        """Wrap the engine's public entry points the benchmark calls
        (directly or through another public function)."""
        if not self.enabled:
            return
        from yaii_spark import indexer
        from yaii_spark.storage import IndexCatalog

        def requested(tr, cat, field_terms):
            tr.count("storage.keys_requested", len(set(field_terms)))

        def forwarded(tr, cat, field_terms):
            tr.count("storage.keys_forwarded", len(field_terms))

        self._patch(indexer, "build_index", "indexer.build")
        self._patch(indexer, "merge_segments", "indexer.merge")
        self._patch(indexer, "delete_docs", "indexer.delete")
        self._patch(IndexCatalog, "term_stats_for", "storage.term_lookup", requested)
        self._patch(IndexCatalog, "term_stats_query", "storage.dict_query", forwarded)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
