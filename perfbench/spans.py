"""Spans around the package's public calls, recorded from outside.

:func:`install` replaces each layer's public function, where its
callers look it up, with a wrapper that records a span (name, start,
end, parent, run id) while the tracer is on and calls straight through
while it is off. No package file changes; the wrappers are undone by
:func:`uninstall`.

Lazy layers return DataFrames without running anything, so their
wrappers force each returned frame into the noop sink inside the span
(counting its rows with an ``Observation``). A forced layer re-runs the
layers below it, so a layer's *self* figures are its span minus the
span of the layer beneath it. That is an approximation: in the real
run Catalyst fuses the layers into one plan, and no single job belongs
to one layer.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    rows: int = 0
    #: sink partitions whose files changed, as ``table/partition``
    rewritten: list[str] = field(default_factory=list)


class Tracer:
    """Holds spans in memory; :meth:`dump` writes them as JSON lines."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.run_id = ""
        self._stack: list[int] = []
        self._ids = itertools.count()

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, run_id=self.run_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        self._stack.remove(idx)
        return span

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def force(self, frames: DataFrame | dict[str, DataFrame]) -> int:
        """Run each frame into the noop sink; return the rows it held."""
        rows = 0
        items = frames.items() if isinstance(frames, dict) else [("df", frames)]
        for name, df in items:
            obs = Observation(f"perfbench_{name}_{next(self._ids)}")
            (df.observe(obs, F.count(F.lit(1)).alias("rows"))
             .write.format("noop").mode("overwrite").save())
            rows += obs.get["rows"]
        return rows

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def _partitions(path: str) -> dict[str, frozenset[str]]:
    if not os.path.isdir(path):
        return {}
    return {d: frozenset(os.listdir(os.path.join(path, d)))
            for d in os.listdir(path) if "=" in d}


def _layer(tracer: Tracer, name: str, fn, force: bool):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active or tracer.inside(name):
            return fn(*args, **kwargs)
        idx = tracer.open(name)
        try:
            out = fn(*args, **kwargs)
            if force:
                tracer.spans[idx].rows = tracer.force(out)
            return out
        finally:
            tracer.close(idx)
    return wrapper


def _kv_upsert(tracer: Tracer, fn):
    @functools.wraps(fn)
    def upsert(sink, batch):
        if not tracer.active:
            return fn(sink, batch)
        before = _partitions(sink.path)
        idx = tracer.open("sinks.kv")
        try:
            return fn(sink, batch)
        finally:
            span = tracer.close(idx)
            table = os.path.basename(sink.path)
            span.rewritten = [f"{table}/{d}" for d, files in _partitions(sink.path).items()
                              if before.get(d) != files]
    return upsert


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every traced call site; returns what :func:`uninstall` needs."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.operators import (
        kpi,
        validate,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.sinks import kv
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming import (
        pipeline as streaming,
    )

    sites = [
        (pipeline_batch, "load_ecommerce_csv", "sources", True),
        (streaming, "load_ecommerce_csv", "sources", True),
        (validate, "run_validation", "validate", True),
        (kpi, "run_transformation", "kpi", True),
        (kpi, "category_kpi", "kpi", True),
        (kpi, "order_kpi", "kpi", True),
        (pipeline_batch, "write_processed_zone", "sinks.files", False),
    ]
    saved = []
    for owner, attr, layer, force in sites:
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, _layer(tracer, layer, fn, force))
    sink = kv.KeyedParquetUpsertSink
    saved.append((sink, "upsert", sink.upsert))
    sink.upsert = _kv_upsert(tracer, sink.upsert)
    return saved


def uninstall(saved: list[tuple[object, str, object]]) -> None:
    for owner, attr, fn in reversed(saved):
        setattr(owner, attr, fn)
