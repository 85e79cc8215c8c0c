"""Spans recorded from outside the engine.

``Tracer.install`` wraps public functions of each engine layer in place and
``uninstall`` puts the originals back, so the program itself carries no
tracing.  Nothing is recorded while the tracer is not installed or is
``paused``.  A span holds its name, layer, start, end, parent span and the id
of the benchmark operation that caused it; spans stay in memory until
``write``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from sql_data_warehouse_samples_spark import catalog as _catalog
from sql_data_warehouse_samples_spark import engine as _engine
from sql_data_warehouse_samples_spark import maintenance as _maintenance
from sql_data_warehouse_samples_spark import meta as _meta
from sql_data_warehouse_samples_spark import result_cache as _rc
from sql_data_warehouse_samples_spark import wlm as _wlm
from sql_data_warehouse_samples_spark.functions import rewriter as _rewriter
from sql_data_warehouse_samples_spark.sources import csv_loader as _csv

#: (owner, attribute, layer) of every wrapped public function
TARGETS = [
    (_rewriter, "rewrite_tsql", "functions"),
    (_engine.Engine, "sql", "engine"),
    (_engine, "plan_steps", "engine"),
    (_rc.ResultCache, "key_for", "result_cache"),
    (_rc.ResultCache, "lookup", "result_cache"),
    (_rc.ResultCache, "store", "result_cache"),
    (_csv.CsvLoader, "load", "csv_loader"),
    (_catalog.Catalog, "create_table_as", "catalog"),
    (_catalog.Catalog, "merge_into", "catalog"),
    (_catalog.Catalog, "delete_where", "catalog"),
    (_catalog.Catalog, "update_where", "catalog"),
    (_maintenance.StatisticsService, "create_statistics", "maintenance"),
    (_meta.Meta, "register_views", "meta"),
    (_meta.Meta, "table_sizes", "meta"),
    (_meta.Meta, "tables_with_skew", "meta"),
]

LAYERS = [
    "bench", "functions", "engine", "wlm", "spark", "result_cache",
    "csv_loader", "catalog", "maintenance", "meta",
]


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.enabled = False

    # --- recording --------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = Span(
            sid,
            parent.id if parent else None,
            parent.op if parent else sid,
            name,
            layer,
            time.perf_counter(),
        )
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(span)

    def span(self, name: str, layer: str):
        if not self.enabled:
            return nullcontext()
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name, layer)
                return self.s

            def __exit__(self, *exc):
                tracer.end(self.s)
                return False

        return _Ctx()

    # --- wrapping ---------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            s = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)

        return traced

    def _wrap_admit(self, fn):
        """``admit`` is a context manager: the span covers the wait for
        slots (its ``__enter__``), not the work done while holding them."""
        tracer = self

        class _Timed:
            def __init__(self, cm):
                self.cm = cm

            def __enter__(self):
                if not tracer.enabled:
                    return self.cm.__enter__()
                s = tracer.begin("AdmissionController.admit", "wlm")
                try:
                    return self.cm.__enter__()
                finally:
                    tracer.end(s)

            def __exit__(self, *exc):
                return self.cm.__exit__(*exc)

        @functools.wraps(fn)
        def admit(*args, **kwargs):
            return _Timed(fn(*args, **kwargs))

        return admit

    def install(self) -> None:
        for owner, attr, layer in TARGETS:
            fn = owner.__dict__[attr]
            name = f"{getattr(owner, '__name__', '').split('.')[-1]}.{attr}"
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, layer))
        fn = _wlm.AdmissionController.__dict__["admit"]
        self._saved.append((_wlm.AdmissionController, "admit", fn))
        _wlm.AdmissionController.admit = self._wrap_admit(fn)
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    @contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # --- summaries --------------------------------------------------------

    def self_ms(self) -> dict[str, float]:
        """Each layer's self time: its spans' durations minus the part
        covered by their child spans."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s.layer] += s.ms - child_ms.get(s.id, 0.0)
        return out

    def durations(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
