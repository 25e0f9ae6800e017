"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a layer, start and end times and a parent; every span
of one workload run shares the run's trace id. While a span is open its
id is the Spark job group of the driver thread, so the jobs it starts,
and through them the stages and tasks, are attributed to it. Counters are
read when the span closes, after its end time is taken. Spans are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.spark_counters import PythonTotals, SparkCounters, StageTotals, StreamTotals


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stages: StageTotals = field(default_factory=StageTotals)
    python: PythonTotals = field(default_factory=PythonTotals)
    stream: StreamTotals = field(default_factory=StreamTotals)
    pinned_mb: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a no-op
    that yields None, so untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self.read_s = 0.0  # time spent reading counters at span ends
        self._stack: list[Span] = []
        self._counters: SparkCounters | None = None
        self._seq = 0

    def attach(self, counters: SparkCounters | None) -> None:
        """Bind the counters of the current SparkSession (None detaches)."""
        self._counters = counters

    def switch(self, on: bool) -> None:
        """Start or stop recording. Starting skips the counters past the
        work done while recording was off, so the first span reads only
        its own."""
        if on and not self.enabled and self._counters is not None:
            self._counters.catch_up()
        self.enabled = on

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.trace_id}-{self._seq}",
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._read(sp)
            self._set_group(parent)
            self.spans.append(sp)

    def _set_group(self, sp: Span | None) -> None:
        if self._counters is None:
            return
        sc = self._counters.sc
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.id, sp.name)

    def _read(self, sp: Span) -> None:
        c = self._counters
        if c is None:
            return
        t = time.perf_counter()
        c.sync()
        sp.stream = c.listener.drain()
        jobs = c.job_ids(sp.id)
        for run_id in sp.stream.run_ids:  # micro-batches run under their own group
            jobs += c.job_ids(run_id)
        sp.stages = c.stage_totals(jobs)
        sp.python = c.python_totals()
        sp.pinned_mb = c.pinned_mb()
        self.read_s += time.perf_counter() - t

    # -- analysis ------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the time its children cover. Counters
        are read after a child's end time, so a parent's self time includes
        the reading (``read_s`` in total)."""
        covered: dict[str, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.duration
        return {sp.id: sp.duration - covered.get(sp.id, 0.0) for sp in self.spans}

    def self_time_by_layer(self) -> dict[str, float]:
        by_id = self.self_times()
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.layer] = out.get(sp.layer, 0.0) + by_id[sp.id]
        return out

    def write(self, path: str, **meta) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self_times = self.self_times()
        record = {
            "trace_id": self.trace_id,
            **meta,
            "spans": [dict(asdict(sp), self_s=self_times[sp.id]) for sp in self.spans],
        }
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)
