"""Iteration barrier and the semi-naive Spark fixpoint loop that the
closure, property-chain, incremental-maintenance and profile-semantics
operators share, plus the driver-route rule the closure, connected
components and SemDeDup share.

Why not ``localCheckpoint``/``checkpoint``: measured on Spark 4.1.2, a loop
whose iteration k+1 derives from iteration k's *checkpointed* frame shows
per-task wall time doubling every iteration after ~13 rounds (constant
2 jobs / 6 stages / 48 tasks, same 20k-row data — see BENCH.md §5), for
eager local AND reliable checkpoints, with AQE on or off. Only a genuine
write+re-read breaks the growth: a parquet round-trip yields a frame whose
plan and RDD graph reference nothing from the producing query.

That is exactly the "checkpointed stage boundary" the north rule requires
anyway — in production these barriers are Iceberg table writes; locally
they are parquet files in a session temp dir (cleaned at exit).

:func:`semi_naive` is the one Spark round loop: ``delta_i+1 =
distinct(step(delta_i, full_i)) minus full_i`` and ``full_i+1 = full_i ∪
delta_i+1``, one barrier and one emptiness probe per round, and a
compaction every ``COMPACT_EVERY`` rounds. Callers own only their step.

Shuffle width is left to the session and to AQE, which coalesces the
reduce side of these small rounds; no fixpoint changes the session's
shuffle width, so concurrent queries on one session are safe. The map side
still writes every partition: on ``local[4]`` at width 32 a 100k-edge
closure took 8% and a 40-level Fitch loop 5% longer than when each barrier
was narrowed to 4 (BENCH.md §25). ``session.get_spark`` sizes the width to
the cores, where the two coincide.

Scale notes: a fixpoint whose seed fits one barrier partition
(:func:`fits_driver`: at most ``TARGET_ROWS_PER_PARTITION`` rows) does not
need Spark at all: every round costs a few jobs of planning and scheduling
whatever the data size. So the closure and CC operators collect their
barrier'd seed up to one row over that cap (one job), route on the number
of rows that came back, run the same round recurrence in Python on the
driver over a seed that fits, and hand the result back through
:meth:`IterationBarrier.from_pandas`. Anything larger keeps the Spark
loop, so driver state never exceeds that constant. Measured on a cold
2k-document KB build plus its SPARQL loop (4 cores, local[4], BENCH.md
§22): Spark jobs fell from 255 to 160, and the build's CPU time from 20.8
to 17.6 s (medians of 12 runs). Cascade SemDeDup (``operators/semdedup.py``)
routes its vector set by the same rule, plus a cap on rows x dim
(``semdedup.DRIVER_MAX_DOUBLES``): a narrow probe decides, then one Arrow
collect, and the assignment GEMM and the pair tiles run on the driver, so
no Python worker starts.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class IterationBarrier:
    """Materialize a DataFrame and return a lineage-free frame.

    Hybrid strategy: the task-time blowup only onsets once the chain of
    checkpoint-derived frames is ~13 deep (measured flat through depth 12 in
    every probe), so short chains use the cheap eager ``localCheckpoint``
    (~0.1 s) and every ``LOCAL_UNTIL``-th call does a parquet round-trip
    (~0.5 s) that resets the derivation depth to zero. Fixpoints that finish
    within ``LOCAL_UNTIL`` rounds (the common case: OBO closure diameter,
    small-component CC) never pay the write.

    One instance per fixpoint invocation; files live until process exit
    (results returned to the caller keep referencing the final iteration's
    files), directory is removed by an ``atexit`` hook.
    """

    LOCAL_UNTIL = 6

    def __init__(self, name: str = "iter"):
        self.root = tempfile.mkdtemp(prefix=f"sparkgraft_{name}_")
        self._seq = 0
        self._depth = 0
        self._paths: list[str] = []
        atexit.register(shutil.rmtree, self.root, True)

    @staticmethod
    def harden(df: DataFrame) -> None:
        """Disable constraint propagation in ``df``'s session (idempotent).

        Spark 4.1.2's ``UnionBase.rewriteConstraints`` throws
        ``NoSuchElementException: key not found: sub#N`` when unioning
        checkpoint-derived frames — the exact shape of every semi-naive
        fixpoint here. The conf is runtime-settable, so setting it at the
        operator level makes correctness independent of which session
        factory built the session (the driver's oracle harness uses a
        vanilla session, not ``session.get_spark``).
        """
        df.sparkSession.conf.set("spark.sql.constraintPropagation.enabled", "false")

    def __call__(self, df: DataFrame, tag: str = "step") -> DataFrame:
        self.harden(df)
        if self._depth < self.LOCAL_UNTIL:
            self._depth += 1
            return df.localCheckpoint(eager=True)
        return self.materialize(df, tag)

    def from_pandas(self, spark, pdf, schema: StructType, tag: str) -> DataFrame:
        """A driver-computed fixpoint result (or hand-off state) as a
        barrier'd frame. Arrow conversion of a pandas frame, not a list of
        tuples: at 40k rows the driver spends 0.015 vs 0.1 CPU s, and the
        tuple path also unpickles every row in Python workers."""
        return self(spark.createDataFrame(pdf, schema), tag)

    def materialize(self, df: DataFrame, tag: str = "step") -> DataFrame:
        """Force a parquet round-trip regardless of the depth counter.

        Used by fixpoint loops to *compact* the accumulated closure (a union
        of many barrier-materialized deltas) into a single scan: bounds both
        the plan's union width (which otherwise grows linearly with the
        iteration count) and, together with :meth:`gc`, temp-disk growth.
        """
        self.harden(df)
        self._depth = 0
        path = f"{self.root}/{tag}_{self._seq}"
        self._seq += 1
        df.write.mode("overwrite").parquet(path)
        self._paths.append(path)
        return df.sparkSession.read.parquet(path)

    def gc(self, keep: int = 2) -> None:
        """Delete all but the ``keep`` newest parquet dirs.

        ONLY safe when the caller knows every live frame derives from the
        newest ``keep`` materializations (e.g. right after compacting both
        the accumulated closure and the current delta). localCheckpoint
        outputs live in the block manager and are unaffected.
        """
        while len(self._paths) > keep:
            shutil.rmtree(self._paths.pop(0), ignore_errors=True)


# Every COMPACT_EVERY rounds semi_naive rewrites the accumulated relation (a
# union of all prior deltas) into one parquet scan: bounds union width —
# the per-round anti-join otherwise scans O(rounds) branches — and lets the
# barrier GC superseded files (superseded deltas become dead once the
# relation and the live delta are both freshly materialized).
COMPACT_EVERY = 8


def semi_naive(
    barrier: IterationBarrier,
    full: DataFrame,
    first: DataFrame,
    step: Callable[[DataFrame, DataFrame], DataFrame],
    *,
    keys: list[str],
    max_iterations: int,
    what: str,
    start: int = 0,
) -> DataFrame:
    """Close ``full`` under ``step`` by semi-naive rounds ``start ..
    max_iterations - 1``; returns the accumulated relation.

    ``first`` holds round ``start``'s candidate facts. Each round keeps the
    distinct candidates whose ``keys`` are not yet in ``full`` (a NULL key
    never matches, so a step must not emit one), barriers them as the
    round's delta, stops when it is empty, and otherwise unions it into
    ``full``; ``step(delta, full)`` then gives the next round's candidates.
    Filters a caller needs on every round's facts (self-loops) belong to
    its ``step`` and its ``first``. Raises ``RuntimeError`` naming
    ``what`` when round ``max_iterations - 1`` still found facts.
    """
    candidates = first
    for it in range(start, max_iterations):
        delta = barrier(
            candidates.dropDuplicates().join(full, on=keys, how="left_anti"), "delta"
        )
        if delta.isEmpty():
            return full
        full = full.unionByName(delta)
        if (it + 1) % COMPACT_EVERY == 0:
            full = barrier.materialize(full, "full")
            delta = barrier.materialize(delta, "delta")
            barrier.gc(keep=2)
        candidates = step(delta, full)
    raise RuntimeError(f"{what} did not converge in {max_iterations} iterations")


TARGET_ROWS_PER_PARTITION = 50_000


def fits_driver(rows: int) -> bool:
    """Route a fixpoint or a SemDeDup vector set to the driver: its state
    fits one barrier partition."""
    return rows <= TARGET_ROWS_PER_PARTITION
