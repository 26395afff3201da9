"""In-memory spans around each public call, and the Spark job labels
that let the event log attribute jobs to them.

A traced span sets the job description ``bench:<workload>:<layer>`` plus
two local properties (``bench.op``, ``bench.layer``) before the call and
clears them after. The local properties are what the event-log parser
keys on, so a library that sets its own job descriptions does not break
the attribution; jobs without them (for example from a thread the library
starts) are attributed by the span whose time window holds them.

With tracing off, or inside an op run untraced, a span records nothing
and sets no label.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: int
    layer: str
    t0: float  # epoch seconds, call start
    t1: float  # epoch seconds, call end
    overhead_s: float  # labelling cost around the call


@dataclass
class Op:
    op: int
    t0: float
    t1: float = 0.0
    traced: bool = True

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


@dataclass
class Tracer:
    sc: object  # SparkContext, or None in tests
    workload: str
    enabled: bool
    spans: "list[Span]" = field(default_factory=list)
    ops: "list[Op]" = field(default_factory=list)
    _op: "Op | None" = None

    @contextmanager
    def op(self, op_id: int, traced: bool = True):
        """One closed-loop operation. ``traced=False`` runs the op with
        no labels or spans, for the tracing-overhead comparison."""
        cur = Op(op_id, time.time(), traced=self.enabled and traced)
        self._op = cur
        try:
            yield cur
        finally:
            cur.t1 = time.time()
            self._op = None
            self.ops.append(cur)

    @contextmanager
    def span(self, layer: str):
        cur = self._op
        if cur is None or not cur.traced:
            yield
            return
        e0 = time.time()
        self._label(layer, cur.op)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._label(None, None)
            e1 = time.time()
            self.spans.append(Span(cur.op, layer, t0, t1, (t0 - e0) + (e1 - t1)))

    def _label(self, layer, op_id) -> None:
        """Label the jobs the calling thread submits; ``None`` clears."""
        if self.sc is None:
            return
        self.sc.setJobDescription(
            None if layer is None else f"bench:{self.workload}:{layer}")
        self.sc.setLocalProperty("bench.op",
                                 None if op_id is None else str(op_id))
        self.sc.setLocalProperty("bench.layer", layer)

    def op_spans(self, op_id: int) -> "list[Span]":
        return [s for s in self.spans if s.op == op_id]


def uncovered_share(op: Op, spans: "list[Span]") -> float:
    """Share of the op's wall time that neither a call span nor the
    labelling overhead around it accounts for."""
    covered = sum(s.t1 - s.t0 + s.overhead_s for s in spans)
    return max(0.0, op.wall_s - covered) / op.wall_s if op.wall_s > 0 else 0.0
