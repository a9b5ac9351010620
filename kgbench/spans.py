"""Spans around the benchmark's calls into the product.

A traced run wraps each call it makes into a product module in a span
named ``<module>.<function>``. The span records wall time on the driver
and sets ``spark.jobGroup.id`` to ``<run>/<span>`` for the call's
duration, so the event log (:mod:`eventlog`) can attribute every job,
stage and SQL execution to the call that caused it. Untraced runs use
:data:`NO_TRACE`, whose spans cost nothing and set no job group.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    group: str  # "<run>/<module>.<function>"
    start: float  # epoch seconds, comparable to the event log's times
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced run, tagged ``run`` in the event log."""

    def __init__(self, sc, run: str):
        self.sc = sc
        self.run = run
        self.spans: dict[str, Span] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{self.run}/{name}"
        self.sc.setLocalProperty(_GROUP, group)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty(_GROUP, self.run)
            self.spans[name] = Span(group, start, end)

    @contextlib.contextmanager
    def activate(self):
        """Tag every job started inside the block with this run's group."""
        self.sc.setLocalProperty(_GROUP, self.run)
        try:
            yield self
        finally:
            self.sc.setLocalProperty(_GROUP, None)

    def seconds(self, name: str) -> float:
        span = self.spans.get(name)
        return span.seconds if span else 0.0

    def group(self, name: str) -> str | None:
        span = self.spans.get(name)
        return span.group if span else None


class _NoTrace:
    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def activate(self):
        yield self


NO_TRACE = _NoTrace()
