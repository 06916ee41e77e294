"""Benchmark-side spans around calls into the engine's layers.

A :class:`Tracer` patches public functions of the engine's modules with
wrappers that open a span (name, label, parent, start, end) for the length
of the call. While a span is open the Spark job group is set to its id, so
jobs in Spark's event log map back to the span that submitted them
(``eventlog.py``). Spans stay in memory; nothing is written until the run
ends. The engine's own code is not modified: :meth:`Tracer.close` restores
every patched attribute.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


@dataclass
class Span:
    id: str
    name: str
    label: str | None
    parent: str | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Spans in one process; one thread opens them (the benchmark's main thread)."""

    def __init__(self, spark_context=None, clock=time.time):
        # wall-clock seconds, the time base of Spark's event log (ms)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark_context
        self._clock = clock
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.id, f"{span.name}[{span.label or ''}]")

    @contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"span-{len(self.spans)}", name, label,
                  parent.id if parent else None, self._clock())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = self._clock()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner: object, attr: str, name: str, label=None, result_label=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``label`` maps the
        call's (args, kwargs) to a span label; ``result_label`` instead maps
        the call's return value to it."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, label(args, kwargs) if label else None) as sp:
                out = fn(*args, **kwargs)
                if result_label:
                    sp.label = result_label(out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)
        self._set_group(None)


def _path_label(args, kwargs) -> str:
    p = kwargs.get("path", args[1] if len(args) > 1 else None)
    return Path(str(p)).name


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from pyspark.sql.classic.dataframe import DataFrame

    from phenoscape_owl_tools_spark import catalog, iterbarrier, sparql
    from phenoscape_owl_tools_spark.operators import (
        closure, components, mention, salting, semdedup,
    )

    # an in-memory pipeline pass ends each stage with an eager local
    # checkpoint; the span is labelled by the id of the frame it returns
    tracer.wrap(DataFrame, "localCheckpoint", "dataframe.local_checkpoint",
                result_label=frame_label)
    tracer.wrap(catalog, "write_table", "catalog.write_table", _path_label)
    tracer.wrap(catalog, "read_table", "catalog.read_table", _path_label)
    tracer.wrap(catalog, "content_checksum", "catalog.content_checksum")
    tracer.wrap(closure, "el_closure", "closure.el_closure")
    tracer.wrap(closure, "transitive_closure", "closure.transitive_closure")
    tracer.wrap(iterbarrier.IterationBarrier, "__call__", "iterbarrier.checkpoint")
    tracer.wrap(iterbarrier.IterationBarrier, "materialize", "iterbarrier.roundtrip")
    tracer.wrap(components, "connected_components", "components.connected_components")
    tracer.wrap(salting, "choose_salt_factor", "salting.choose_salt_factor")
    tracer.wrap(mention, "broadcast_dictionary", "mention.broadcast_dictionary")
    for fn in ("semantic_dedup", "assign_clusters", "centroid_units",
               "trained_centroids", "semantic_near_dups"):
        tracer.wrap(semdedup, fn, f"semdedup.{fn}")
    tracer.wrap(sparql, "parse", "sparql.parse")
    tracer.wrap(sparql, "evaluate", "sparql.evaluate")
    tracer.wrap(sparql, "update", "sparql.update")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of it covered by direct children."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def frame_label(df) -> str:
    return f"frame-{id(df)}"


def stage_windows(spans: list[Span], run: Span,
                  frames: dict[str, str]) -> list[tuple[str, float, float]]:
    """(stage, t0, t1) for each stage of the in-memory pipeline pass ``run``.

    A stage ends with the local checkpoint that returned the stage's frame
    (``frames`` maps stage -> :func:`frame_label` of that frame; a label
    reused by a later frame at a freed address counts once, the last time),
    and begins where the previous stage ended; the first begins after the
    input-fingerprint checksums. Eager work a stage does before its
    checkpoint (closure fixpoints, salt choice) thus lands in that stage.
    """
    top = [s for s in spans if s.parent == run.id]
    last = {s.label: s for s in top if s.name == "dataframe.local_checkpoint"}
    ends = sorted(((name, last[f]) for name, f in frames.items() if f in last),
                  key=lambda e: e[1].end)
    if not ends:
        return []
    first = ends[0][1].start
    t0 = max([s.end for s in top if s.name == "catalog.content_checksum" and s.end <= first],
             default=run.start)
    out = []
    for name, s in ends:
        out.append((name, t0, s.end))
        t0 = s.end
    return out
