"""Spans around each layer call, recorded from the benchmark's own code.

A span has a layer name, the request it belongs to, wall start/end (epoch
seconds, the event log's clock) and counts. While a span is open its calls
run under the Spark job group ``r<request>:<layer>``, so the event log
attributes their jobs, tasks and SQL metrics to that layer; between spans
the request's jobs fall in ``r<request>:glue``.

Calls the benchmark makes itself are wrapped with :meth:`Tracer.span`.
Calls the pipeline makes internally are caught by wrapping public
``Catalog`` methods of ``sources.iceberg_lite``: a stage opens when
``find_snapshot`` finds no committed snapshot for it (the pipeline then
builds it) and closes when ``amend_metrics`` stamps its wall time. With
tracing off nothing is wrapped and no job group is set.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

#: pipeline table → layer name of the stage that writes it
STAGE_LAYERS = {"extracted": "extract", "detections": "detect",
                "cells": "cells", "tile_counts": "tiles"}


class Span:
    __slots__ = ("layer", "request", "t0", "t1", "counts")

    def __init__(self, layer: str, request: int):
        self.layer = layer
        self.request = request
        self.t0 = time.time()
        self.t1 = self.t0
        self.counts: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.request: int | None = None
        self._open: dict[str, Span] = {}
        self._restore: list[tuple[object, str, object]] = []

    # ---- job groups ------------------------------------------------------
    def _group(self, layer: str):
        if self.request is None:
            self.sc.setJobGroup("idle", "outside any request")
        else:
            self.sc.setJobGroup(f"r{self.request}:{layer}", layer)

    @contextmanager
    def request_span(self, request: int):
        """The whole request: its jobs default to the ``glue`` group."""
        if not self.enabled:
            yield None
            return
        self.request = request
        sp = Span("request", request)
        self._group("glue")
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.spans.append(sp)
            self.request = None
            self._group("")

    @contextmanager
    def span(self, layer: str):
        """One layer call (plus the action that runs it) inside a request."""
        if not self.enabled:
            yield Span(layer, -1)
            return
        sp = Span(layer, self.request)
        self._group(layer)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.spans.append(sp)
            self._group("glue")

    # ---- wrapping the catalog the pipeline calls ---------------------------
    def install(self):
        if not self.enabled:
            return
        from cartwright_spark.sources.iceberg_lite import Catalog
        tracer = self

        def find_snapshot(orig):
            def wrapped(cat, name, stage_key):
                snap = orig(cat, name, stage_key)
                if snap is None and name in STAGE_LAYERS:
                    layer = STAGE_LAYERS[name]
                    tracer._open[name] = Span(layer, tracer.request)
                    tracer._group(layer)
                return snap
            return wrapped

        def amend_metrics(orig):
            def wrapped(cat, name, snapshot_id, metrics):
                out = orig(cat, name, snapshot_id, metrics)
                sp = tracer._open.pop(name, None)
                if sp is not None:
                    sp.t1 = time.time()
                    tracer.spans.append(sp)
                    tracer._group("glue")
                return out
            return wrapped

        def write_table(orig):
            def wrapped(cat, df, name, *a, **kw):
                sp = Span("iceberg.write", tracer.request)
                manifest = orig(cat, df, name, *a, **kw)
                sp.t1 = time.time()
                sp.counts = {
                    "spark_write_s": manifest["write_wall_sec"],
                    "files": len(manifest["files"]),
                    "bytes": sum(f["bytes"] for f in manifest["files"]),
                    "rows": manifest["row_count"],
                    "table_" + name: 1}
                tracer.spans.append(sp)
                return manifest
            return wrapped

        def select_files(orig):
            def wrapped(cat, name, *a, **kw):
                files = orig(cat, name, *a, **kw)
                sid = a[0] if a else kw.get("snapshot_id")
                total = len(orig(cat, name, sid))   # no filter: every file
                sp = Span("iceberg.select", tracer.request)
                sp.counts = {"selected": len(files), "total": total}
                tracer.spans.append(sp)
                return files
            return wrapped

        for meth, wrap in (("find_snapshot", find_snapshot),
                           ("amend_metrics", amend_metrics),
                           ("write_table", write_table),
                           ("select_files", select_files)):
            orig = getattr(Catalog, meth)
            self._restore.append((Catalog, meth, orig))
            setattr(Catalog, meth, wrap(orig))

    def uninstall(self):
        for obj, name, orig in reversed(self._restore):
            setattr(obj, name, orig)
        self._restore.clear()
