"""Layer spans recorded from the benchmark, around its calls into the package.

Every layer call runs inside :meth:`Tracer.layer`, which times it and, when
tracing is on, tags the Spark jobs it starts with the job group
``<workload>:<layer>:<pass>`` so :mod:`perfbench.eventlog` can fold the event
log per layer.  A layer is always timed around the action that executes it
(a count, collect, eager checkpoint or write), never around a lazy plan.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    tag: str
    start_ms: float  # wall clock, the event log's time base
    end_ms: float

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    def __init__(self, spark_context, workload: str, tagging: bool):
        self.sc = spark_context
        self.workload = workload
        self.tagging = tagging
        self.spans: list[Span] = []

    @staticmethod
    def tag(workload: str, layer: str, pass_no: int) -> str:
        return f"{workload}:{layer}:{pass_no}"

    @contextmanager
    def layer(self, layer: str, pass_no: int):
        tag = self.tag(self.workload, layer, pass_no)
        if self.tagging:
            self.sc.setJobGroup(tag, tag)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(tag, start * 1000.0, time.time() * 1000.0))
            if self.tagging:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, layer: str, pass_no: int) -> float:
        tag = self.tag(self.workload, layer, pass_no)
        return sum(s.seconds for s in self.spans if s.tag == tag)

    def pass_summary(self, pass_no: int) -> str:
        """``layer=seconds ...`` for one pass, in call order."""
        by_layer: dict[str, float] = {}
        for s in self.spans:
            _, layer, p = s.tag.split(":")
            if int(p) == pass_no:
                by_layer[layer] = by_layer.get(layer, 0.0) + s.seconds
        return " ".join(f"{k}={v:.2f}" for k, v in by_layer.items())
