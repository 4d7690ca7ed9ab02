"""Spans around the package's public calls, for the traced run only.

``Tracer.wrap`` replaces a function at the name its caller resolves
(a module global such as ``couchwarehouse_spark.warehouse.merge_batch``
or a class attribute such as ``Warehouse._process_batch``) with a
wrapper that records a span (name, start, end, parent) and sets the
``perfbench.span`` Spark local property for the duration of the call,
so the event log attributes each job to the innermost open span. The
property is per thread, which is what makes jobs submitted from the
streaming micro-batch thread attributable too. ``uninstall`` puts every
original back.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench.eventlog import SPAN_PROP


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "start_ms": self.start_ms,
            "end_ms": self.end_ms,
            "attrs": self.attrs,
        }


def _now_ms() -> float:
    # Wall-clock epoch ms: the event log stamps jobs the same way.
    return time.time() * 1000.0


class Tracer:
    """Spans kept in memory and written out when the workload ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._restore: list[Callable[[], None]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span:
        stack = self._stack()
        # A span opened on another thread (the streaming micro-batch
        # callback) hangs under whatever the main thread has open.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(f"s{next(self._ids)}", name, parent.id if parent else None, _now_ms(), attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        self.spark.sparkContext.setLocalProperty(SPAN_PROP, span.id)
        return span

    def close(self, span: Span) -> None:
        span.end_ms = _now_ms()
        stack = self._stack()
        stack.remove(span)
        prev = stack[-1].id if stack else None
        self.spark.sparkContext.setLocalProperty(SPAN_PROP, prev)

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.span = tracer.open(name, **attrs)
                return self.span

            def __exit__(self, *exc):
                tracer.close(self.span)
                return False

        return _Ctx()

    def wrap(
        self,
        owner,
        attr: str,
        name: str,
        after: Callable[[Span, tuple, dict, object], None] | None = None,
    ) -> None:
        """Trace ``owner.attr`` as span ``name``; ``after(span, args,
        kwargs, result)`` may add attributes once the call returns."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


def install_package_spans(tracer: Tracer) -> None:
    """Wrap each layer the benchmark reports, at the names the package
    resolves them by."""
    import sys

    from couchwarehouse_spark import catalog, warehouse
    from couchwarehouse_spark.operators import upsert
    from couchwarehouse_spark.streaming import ingest

    W = warehouse.Warehouse
    tracer.wrap(warehouse, "read_changes_feed", "sources.changes.read")
    tracer.wrap(ingest, "_parse_docs", "streaming.ingest.parse")
    tracer.wrap(warehouse, "flatten_frame", "operators.document.flatten")
    tracer.wrap(warehouse, "conform_frame", "operators.document.conform")
    tracer.wrap(warehouse, "merge_batch", "operators.upsert.merge_batch")
    tracer.wrap(upsert.CheckpointStore, "write", "operators.upsert.checkpoint_write")
    tracer.wrap(W, "_process_batch", "warehouse.process_batch")
    tracer.wrap(W, "_merge_type", "warehouse.merge_type")
    tracer.wrap(W, "_prune_bucket_files", "warehouse.prune", after=_prune_attrs)
    tracer.wrap(W, "_publish_tmp", "warehouse.publish", after=_publish_attrs)
    tracer.wrap(W, "_commit_manifest", "warehouse.commit", after=_commit_attrs)
    tracer.wrap(W, "lookup", "warehouse.lookup_build")

    # load_table is imported by name into the plan modules: wrap every
    # binding, so each caller's resolved name is the traced one.
    orig = catalog.load_table
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("couchwarehouse_spark") and getattr(mod, "load_table", None) is orig:
            _wrap_load_table(tracer, mod, orig)


def _wrap_load_table(tracer: Tracer, mod, orig) -> None:
    """A memo hit is a call that returns the very relation the
    catalog's scan memo held before the call."""
    import os

    from couchwarehouse_spark import catalog

    @functools.wraps(orig)
    def traced(spark, sf_dir, name, *args, **kwargs):
        held = catalog._SCAN_MEMO.get(spark, {}).get((os.path.abspath(sf_dir), name))
        cached = held[1] if held is not None else None
        span = tracer.open("catalog.load_table")
        try:
            result = orig(spark, sf_dir, name, *args, **kwargs)
        finally:
            tracer.close(span)
        span.attrs["hit"] = cached is not None and cached is result
        return result

    setattr(mod, "load_table", traced)
    tracer._restore.append(lambda: setattr(mod, "load_table", orig))


def _prune_attrs(span, args, kwargs, result) -> None:
    read_files, untouched = result
    span.attrs["files_read"] = len(read_files)
    span.attrs["files_untouched"] = sum(len(v) for v in untouched.values())


def _publish_attrs(span, args, kwargs, result) -> None:
    moved, _ = result
    span.attrs["files_added"] = sum(len(v) for v in moved.values())


def _commit_attrs(span, args, kwargs, result) -> None:
    buckets = args[3] if len(args) > 3 else kwargs["buckets"]
    span.attrs["files_total"] = sum(len(v) for v in buckets.values())
