"""In-memory spans around calls into the engine's public functions.

The wrappers are installed by the benchmark at run time (``Tracer.install``)
and removed afterwards; nothing in the package is edited. A span records its
name, start, end, parent span and the operation it belongs to. A layer's self
time is its span's duration minus the part covered by its child spans.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "enterprise_data_warehouse_spark"

# span name -> (module, attribute path) of the public function it wraps
WRAPPED = {
    "session.start": ("session", "get_spark"),
    "sources.load_table": ("sources.tables", "load_table"),
    "sources.sink.merge_upsert": ("sources.sink", "merge_upsert"),
    "sources.sink.merge_upsert_partitioned": ("sources.sink", "merge_upsert_partitioned"),
    "sources.sink.read_table": ("sources.sink", "read_table"),
    "sources.versioned.merge": ("sources.versioned", "VersionedTable.merge"),
    "sources.versioned.merge_partitioned": ("sources.versioned", "VersionedTable.merge_partitioned"),
    "sources.versioned.commit": ("sources.versioned", "VersionedTable.commit"),
    "sources.versioned.vacuum": ("sources.versioned", "VersionedTable.vacuum"),
    "sources.versioned.current_version": ("sources.versioned", "VersionedTable.current_version"),
    "sources.versioned.read": ("sources.versioned", "VersionedTable.read"),
    "plans.result_cache.get_or_build": ("plans.result_cache", "ResultCache.get_or_build"),
    "plans.result_cache.fingerprint": ("plans.result_cache", "plan_fingerprint"),
    "plans.catalog.build_all": ("plans.catalog", "ModelRegistry.build_all"),
}
# spans opened by the benchmark's own call sites
CALL_SITES = ("operators.build", "operators.exec", "streaming.query", "plans.catalog.model")
SPAN_NAMES = tuple(WRAPPED) + CALL_SITES


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    thread: int
    result: object = None


class Tracer:
    """Collects spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op,
                  threading.get_ident())
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if sp is not None:
                    sp.result = out
                return out

        return traced

    def install(self) -> None:
        """Wrap every function in ``WRAPPED``, including the copies other
        package modules imported by name."""
        if not self.enabled:
            return
        import importlib

        for name, (mod, path) in WRAPPED.items():
            module = importlib.import_module(f"{PKG}.{mod}")
            owner, attr = module, path
            if "." in path:
                cls, attr = path.split(".")
                owner = getattr(module, cls)
            original = getattr(owner, attr)
            traced = self._wrap(name, original)
            self._patch(owner, attr, traced)
            if owner is module:
                for other in list(sys.modules.values()):
                    if (other is not module and getattr(other, "__name__", "").startswith(PKG)
                            and getattr(other, attr, None) is original):
                        self._patch(other, attr, traced)

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def select(self, ops: set[int]) -> list[Span]:
        return [s for s in self.spans if s.op in ops and s.end]

    def layer_totals(self, ops: set[int]) -> dict[str, dict[str, float]]:
        """Per span name over the given operations: total time, self time
        and number of calls. The children of a span are the spans it opened
        on its own thread plus the root spans that other threads (stream
        batches, catalog model builders) opened inside its interval."""
        spans = self.select(ops)
        kids: dict[int, list[tuple[float, float]]] = {}
        index = {id(s): i for i, s in enumerate(self.spans)}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        roots = [s for s in spans if s.parent is None]
        out = {n: {"total": 0.0, "self": 0.0, "calls": 0.0} for n in SPAN_NAMES}
        for s in spans:
            d = out[s.name]
            inner = kids.get(index[id(s)], []) + [
                (r.start, r.end) for r in roots
                if r.thread != s.thread and r.op == s.op and s.start <= r.start < s.end
            ]
            covered = union_s(inner, s.start, s.end)
            d["total"] += s.end - s.start
            d["self"] += s.end - s.start - covered
            d["calls"] += 1
        return out


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the intervals cover."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered
