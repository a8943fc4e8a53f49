"""Spans for the traced run, recorded from outside the program.

A traced run wraps, on one ``KGPipeline`` instance, the five public stage
methods and its ``TableStore``'s ``write``, ``promote`` and
``overwrite_partitions``. Stage spans carry status-store marks, so each
stage's Spark counters are the stages submitted between its marks; stages
run one after another, so those id ranges never overlap. Storage spans are
children of the stage that is running when they start. They carry only
time and counts: materialize starts three writes at once from a thread
pool, and their Spark stages interleave.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from importtoneo4j_spark.plans.pipeline import STAGES

from kgbench.collector import Mark, SparkCounters, summarize

# span kind -> the TableStore method it wraps
STORE_CALLS = {
    "write": "write",
    "promote": "promote",
    "overwrite": "overwrite_partitions",
}


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    marks: tuple[Mark, Mark] | None = None


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


class Tracer:
    def __init__(self, counters: SparkCounters) -> None:
        self.counters = counters
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stage: str | None = None  # stages run one at a time

    def attach(self, pipe) -> None:
        """Shadow the stage and storage methods of ``pipe`` with spans.
        ``KGPipeline.run`` looks the stage methods up on the instance, and
        every stage reaches storage through ``pipe.store``."""
        for stage in STAGES:
            attr = f"stage_{stage}"
            setattr(pipe, attr, self._stage_span(stage, getattr(pipe, attr)))
        for kind, attr in STORE_CALLS.items():
            setattr(pipe.store, attr, self._store_span(kind, getattr(pipe.store, attr)))

    def _stage_span(self, stage: str, fn):
        def traced(*args, **kwargs):
            m0 = self.counters.mark()
            self._stage = stage
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._stage = None
                m1 = self.counters.mark()
                with self._lock:
                    self.spans.append(Span(stage, None, t0, t1, (m0, m1)))

        return traced

    def _store_span(self, kind: str, fn):
        def traced(*args, **kwargs):
            parent = self._stage
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with self._lock:
                    self.spans.append(Span(kind, parent, t0, t1))

        return traced

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """``<layer>.<metric>`` for the five stages and the storage calls.
        Reads the status store once, after the run."""
        stages = sorted((s for s in self.spans if s.marks), key=lambda s: s.start)
        stores = [s for s in self.spans if s.marks is None]
        rows = self.counters.stages_between(stages[0].marks[0], stages[-1].marks[1])
        out: dict[str, float] = {}
        for s in stages:
            wall = s.end - s.start
            children = [
                (max(c.start, s.start), min(c.end, s.end))
                for c in stores
                if c.parent == s.name
            ]
            c = summarize(rows, *s.marks)
            out[f"{s.name}.wall_s"] = wall
            out[f"{s.name}.self_s"] = wall - covered(children)
            for key, value in c.as_dict().items():
                out[f"{s.name}.{key}"] = value
            out[f"{s.name}.busy_share"] = c.exec_ms / (wall * 1000.0 * cores)
        for kind in STORE_CALLS:
            mine = [c for c in stores if c.name == kind]
            out[f"tables.{kind}_s"] = sum(c.end - c.start for c in mine)
            out[f"tables.{kind}s"] = len(mine)
        return out
