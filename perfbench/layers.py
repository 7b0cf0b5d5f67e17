"""Spans around the calls into each engine layer, recorded from outside the
engine: the public functions of ``sources.catalog`` and of the ``functions``
helpers named below are replaced by timing wrappers, as are the DataFrame
checkpoint methods and ``StreamingQuery.awaitTermination``.

Operator modules bind ``sources`` and ``functions`` helpers with
``from ... import``, so ``Tracer.install`` must run before
``registry.load_all_queries()`` imports them.
"""

from __future__ import annotations

import functools
import inspect
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds / 1000
    end: float
    outer: bool  # not made from inside another call into the same layer
    stats: dict = field(default_factory=dict)


class Tracer:
    """Keeps one span per wrapped call in memory until the caller reads
    ``spans``; a layer's busy time is the sum of its ``outer`` spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._depth = threading.local()

    def wrap(self, layer: str, fn, after=None):
        """``fn`` recording a ``layer`` span; ``after(args, result)`` may
        return extra stats for the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(self._depth, layer, 0)
            setattr(self._depth, layer, depth + 1)
            start = time.time()
            try:
                result = fn(*args, **kwargs)
            finally:
                setattr(self._depth, layer, depth)
            end = time.time()
            stats = after(args, result) if after else {}
            self.spans.append(Span(layer, fn.__name__, start, end, depth == 0, stats))
            return result

        return traced

    def wrap_module(self, layer: str, module, names=None) -> None:
        """Wrap the public functions ``module`` defines (or just ``names``)."""
        for name, fn in inspect.getmembers(module, inspect.isfunction):
            if fn.__module__ != module.__name__ or name.startswith("_"):
                continue
            if names is None or name in names:
                setattr(module, name, self.wrap(layer, fn))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming.query import StreamingQuery

        from bigdatainfinance1_spark.functions import partitioning, ranks
        from bigdatainfinance1_spark.sources import catalog

        self.wrap_module("sources", catalog)
        self.wrap_module("functions", ranks)
        self.wrap_module("functions", partitioning, {"parallelize_scan"})
        # Wrapping pyspark.sql.DataFrame counts nothing: classic sessions
        # hand out pyspark.sql.classic.dataframe.DataFrame instances.
        for method in ("localCheckpoint", "checkpoint"):
            setattr(DataFrame, method, self.wrap("checkpoint", getattr(DataFrame, method)))
        StreamingQuery.awaitTermination = self.wrap(
            "streaming", StreamingQuery.awaitTermination, _stream_progress
        )


def _stream_progress(args, _result) -> dict:
    """Micro-batches, input rows and final state size of the awaited query."""
    progress = args[0].recentProgress
    state = progress[-1].stateOperators if progress else []
    return {
        "batches": len(progress),
        "input_rows": sum(p.numInputRows for p in progress),
        "state_rows": sum(op.numRowsTotal for op in state),
        "state_bytes": sum(op.memoryUsedBytes for op in state),
    }
