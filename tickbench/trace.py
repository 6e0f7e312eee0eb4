"""Spans and counters around the engine's layer boundaries, recorded from
the benchmark's own files.

:class:`Tracer` wraps each view maintainer's ``step`` (and tags the Spark
jobs it starts with the view's name through the job description),
``StateTable.update``/``replace``, ``tuning.checkpoint_small`` and
``ZSetFrame.consolidate``, and restores all of them on :meth:`uninstall`.
None of the wrappers starts a Spark job.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

from tickbench.jobs import union_seconds


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    tick: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its direct children."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.sid: (s.end - s.start) - union_seconds(
                [(c.start, c.end) for c in kids.get(s.sid, ())],
                s.start, s.end)
            for s in spans}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.tick: int | None = None
        #: views whose maintainer ran during the current tick
        self.stepped: list[str] = []
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, self.tick)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def describe(self, what: str) -> None:
        """Tag the jobs started from here on with ``tick <n> <what>``."""
        self.spark.sparkContext.setJobDescription(f"tick {self.tick} {what}")

    # -------------------------------------------------------------- #

    def _patch(self, owner, attr: str, name: str, counter: str | None,
               timed: bool = True) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        tracer = self

        def wrapper(*a, **k):
            if counter:
                tracer.counts[counter] += 1
            if not timed:
                return orig(*a, **k)
            with tracer.span(name):
                return orig(*a, **k)

        setattr(owner, attr, wrapper)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def install(self, eng=None) -> None:
        """Wrap the layer calls, and each view of ``eng`` if given."""
        from database_stream_processor_spark import tuning
        from database_stream_processor_spark.plans.incremental import (
            StateTable)
        from database_stream_processor_spark.zset import ZSetFrame

        self._patch(StateTable, "update", "plans.state_update",
                    "plans.state_updates")
        self._patch(StateTable, "replace", "plans.state_replace",
                    "plans.state_replaces")
        self._patch(tuning, "checkpoint_small", "tuning.checkpoint_small",
                    "tuning.checkpoints")
        self._patch(ZSetFrame, "consolidate", "zset.consolidate",
                    "zset.consolidates", timed=False)
        if eng is not None:
            for view, m in eng._maintainers.items():
                self._wrap_view(view, m)
            self._tag_view_turns(eng)

    def _tag_view_turns(self, eng) -> None:
        """``Engine.step`` looks up a view's sources first in the view's
        turn, before it folds the tables that view reads: tag the jobs from
        there on with the view, so the folds count as the view's jobs."""
        tracer = self
        sources = eng._sources

        class TagOnLookup(dict):
            def __getitem__(self, view):
                tracer.describe(f"view {view}")
                return dict.__getitem__(self, view)

        eng._sources = TagOnLookup(sources)
        self._restore.append(lambda: setattr(eng, "_sources", sources))

    def _wrap_view(self, view: str, m) -> None:
        orig = m.step
        tracer = self

        def step(eng, combined, old):
            tracer.stepped.append(view)
            tracer.describe(f"view {view}")
            try:
                with tracer.span(f"sql.view.{view}.step"):
                    return orig(eng, combined, old)
            finally:
                tracer.describe("engine")

        m.step = step                    # instance attribute shadows
        self._restore.append(lambda: m.__dict__.pop("step", None))

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def begin_tick(self, tick: int) -> None:
        self.tick = tick
        self.stepped = []
        self.counts.clear()
        self.describe("engine")

    def dump(self) -> list[dict]:
        own = self_times(self.spans)
        return [{"id": s.sid, "name": s.name, "start": s.start,
                 "end": s.end, "parent": s.parent, "tick": s.tick,
                 "self_s": own[s.sid]} for s in self.spans]
