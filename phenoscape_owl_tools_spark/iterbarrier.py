"""Iteration barrier for driver-loop fixpoints (closure, connected
components, chain saturation), and the driver-route rule they and
SemDeDup share.

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

Scale notes: a fixpoint whose seed fits one barrier partition
(:func:`fits_driver`: at most ``TARGET_ROWS_PER_PARTITION`` rows, the same
constant the width rule divides by) does not need Spark at all: every
round costs a few jobs of planning and scheduling whatever the data size.
So the closure and CC operators collect such a seed once (the row count
is the one the adaptive width already takes, no extra job), run the same
round recurrence in Python on the driver, and hand the result back
through :meth:`IterationBarrier.from_pandas`. Anything larger keeps the
Spark loop, so driver state never exceeds that constant. Measured on a
cold 2k-document KB build plus its SPARQL loop (4 cores, local[4],
BENCH.md §22): Spark jobs fell from 255 to 160, and the build's CPU time
from 20.8 to 17.6 s (medians of 12 runs). Cascade SemDeDup
(``operators/semdedup.py``) routes its vector set by the same rule, plus
a cap on rows x dim (``semdedup.DRIVER_MAX_DOUBLES``): a narrow probe
decides, then one Arrow collect, and the assignment GEMM and the pair
tiles run on the driver, so no Python worker starts.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class IterationBarrier:
    """Materialize a DataFrame and return a lineage-free frame.

    Hybrid strategy: the task-time blowup only onsets once the chain of
    checkpoint-derived frames is ~13 deep (measured flat through depth 12 in
    every probe), so short chains use the cheap eager ``localCheckpoint``
    (~0.1 s) and every ``local_until``-th call does a parquet round-trip
    (~0.5 s) that resets the derivation depth to zero. Fixpoints that finish
    within ``local_until`` rounds (the common case: OBO closure diameter,
    small-component CC) never pay the write.

    One instance per fixpoint invocation; files live until process exit
    (results returned to the caller keep referencing the final iteration's
    files), directory is removed by an ``atexit`` hook.
    """

    def __init__(self, name: str = "iter", local_until: int = 6,
                 adaptive_width: bool = False):
        self.root = tempfile.mkdtemp(prefix=f"sparkgraft_{name}_")
        self._seq = 0
        self._depth = 0
        self._paths: list[str] = []
        self.local_until = local_until
        self.adaptive_width = adaptive_width
        self._width: int | None = None
        # row count of the first barrier'd frame (the fixpoint's seed) when
        # ``adaptive_width`` is set; what :func:`fits_driver` routes on
        self.seed_rows: int | None = None
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
        if self._depth < self.local_until:
            self._depth += 1
            out = self._under_width(df, lambda: df.localCheckpoint(eager=True))
        else:
            out = self.materialize(df, tag)
        if self.adaptive_width and self._width is None:
            # first barrier'd frame = the fixpoint's seed; size the window
            # from it (the count runs on materialized data — one cheap job)
            self.seed_rows = out.count()
            self.set_width(self.seed_rows, df.sparkSession)
        return out

    def from_pandas(self, spark, pdf, schema: StructType, tag: str) -> DataFrame:
        """A driver-computed fixpoint result (or hand-off state) as a
        barrier'd frame. Arrow conversion of a pandas frame, not a list of
        tuples: at 40k rows the driver spends 0.015 vs 0.1 CPU s, and the
        tuple path also unpickles every row in Python workers."""
        return self(spark.createDataFrame(pdf, schema), tag)

    def set_width(self, rows: int, spark) -> None:
        """Fix the shuffle width for subsequent barrier actions.

        Driver-loop fixpoints execute O(iterations) eager actions, and
        checkpoint materialization bypasses AQE coalescing — at the
        session's full shuffle width every tiny action schedules 32+ tasks
        over kB-scale frames and scheduling dominates (measured on the
        profiles.py level loops: 14.8 s -> 8.8 s at sf0.1 by narrowing).

        Adaptive, never hardcoded: width = clamp(rows /
        TARGET_ROWS_PER_PARTITION, 4, session width). A dimension-scale
        TBox closure gets 4 partitions; a fact-scale closure at 10^9 edges
        keeps the session's full width — the same operator code still
        scales on a 1000-executor cluster (the cap only ever lowers the
        width below the user's setting, and only inside barrier actions).
        """
        session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        per_part = max(1, TARGET_ROWS_PER_PARTITION)
        self._width = max(4, min(session_width, -(-rows // per_part)))

    def _under_width(self, df: DataFrame, action):
        # NOTE: temporarily mutates the SESSION-global shuffle width around
        # the barrier action. This assumes one driver thread plans jobs at a
        # time (true for this pipeline's drivers and tests); concurrent
        # query threads sharing the SparkSession could plan under the
        # narrowed width or race the restore. A per-plan alternative
        # (repartition/hints on every shuffle inside the fixpoint) would
        # obscure every operator for a setting that only matters mid-barrier.
        if self._width is None:
            return action()
        conf = df.sparkSession.conf
        old = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", str(self._width))
        try:
            return action()
        finally:
            conf.set("spark.sql.shuffle.partitions", old)

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
        self._under_width(df, lambda: df.write.mode("overwrite").parquet(path))
        out = df.sparkSession.read.parquet(path)
        self._paths.append(path)
        if self.adaptive_width and self._width is not None:
            # fixpoint working sets GROW (closure >> seed); refresh the
            # width from each compaction's materialized size (parquet
            # metadata count — cheap) so a closure that outgrows its seed
            # regains parallelism instead of staying at the seed's width
            self.set_width(out.count(), df.sparkSession)
        return out

    def gc(self, keep: int = 2) -> None:
        """Delete all but the ``keep`` newest parquet dirs.

        ONLY safe when the caller knows every live frame derives from the
        newest ``keep`` materializations (e.g. right after compacting both
        the accumulated closure and the current delta). localCheckpoint
        outputs live in the block manager and are unaffected.
        """
        while len(self._paths) > keep:
            shutil.rmtree(self._paths.pop(0), ignore_errors=True)


TARGET_ROWS_PER_PARTITION = 50_000


def fits_driver(rows: int) -> bool:
    """Route a fixpoint or a SemDeDup vector set to the driver: its state
    fits one barrier partition."""
    return rows <= TARGET_ROWS_PER_PARTITION
