"""One fixpoint runner for the engine's single-state round loops.

Every iterative operator with one state frame runs the same loop — the
double-buffered power iteration of the reference
(kernel_bblock.cu:1066-1082):

  per round r:
    next  = step(state, previous round's scalars)
    one Spark job materializes ``next`` through the checkpointer and
    collects the convergence scalars as OBSERVED metrics of that same job
    record one metrics row, release ``state``, stop when the predicate
    over the scalars says so

The operator keeps only what is its own: the step plan, the metric
expressions, the stop predicate, and any fix-ups of a resumed state.
Round numbering, the materialization, the release of the previous round,
the stop test and, with a dir-backed checkpointer, the fresh-run reset,
the resume point and the per-round metrics row all live here.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Observation

from pagerank_spark.plans.checkpoint import SuperstepCheckpointer

Stats = dict[str, Any]


@dataclass
class Fixpoint:
    state: DataFrame       # the last materialized round (or the initial state)
    rounds: int            # number of the last round run (``start`` if none)
    converged: bool        # the stop predicate fired
    stats: Stats           # that round's observed scalars (else the initial ones)


def release(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint`` frame.

    ``DataFrame.unpersist`` goes through the cache manager, which never
    saw a checkpointed frame, so it leaves the checkpoint RDD pinned; this
    drops that RDD's blocks by id (``RDD.unpersist`` would log a lineage
    warning per call). Any other frame (lazy plan, parquet-backed state)
    is left alone."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)


def pin(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Stats]:
    """``localCheckpoint`` ``df`` and collect ``metrics`` over it in the
    same job: the initial state of a loop whose first stop test compares
    against it."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def resume_point(checkpointer: SuperstepCheckpointer | None,
                 resume: bool) -> tuple[int, DataFrame | None]:
    """``(start round, committed state)`` for a run.

    A fresh run resets the checkpointer, so a later resume cannot pick up a
    previous run's higher-numbered rounds; ``resume=True`` continues from
    the last committed round, or starts over when nothing is committed."""
    if checkpointer is None:
        return 0, None
    if not resume:
        checkpointer.reset()
        return 0, None
    last = checkpointer.last_committed()
    if last is None:
        return 0, None
    return last, checkpointer.load(last)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, Stats | None], DataFrame],
    metrics: Sequence[Column],
    stop: Callable[[Stats, Stats | None], bool],
    max_rounds: int,
    checkpointer: SuperstepCheckpointer | None = None,
    start: int = 0,
    stats: Stats | None = None,
    record: Callable[[DataFrame, Stats, Stats | None], Stats] | None = None,
) -> Fixpoint:
    """Run rounds ``start+1 .. max_rounds`` until ``stop`` fires.

    ``step(state, prev)`` builds the next round's frame from the current
    state and the previous round's scalars (``stats`` for the first
    round). ``metrics`` are aggregate columns over that frame; their values
    reach ``stop(stats, prev)`` and the round's metrics row. The runner owns
    ``state``: each round releases the one before it.

    ``checkpointer``: ``None`` or an in-memory one pins every round with
    ``localCheckpoint``; a dir-backed one writes it to parquet, reads it
    back and appends the metrics row to its ``metrics.jsonl``. The row is
    the observed scalars, or ``record(next, stats, prev)`` when given, plus
    ``converged``, ``wall_ms`` and ``phase_ms``.
    """
    ckpt = checkpointer or SuperstepCheckpointer(state.sparkSession)
    rounds, converged = start, False
    for rounds in range(start + 1, max_rounds + 1):
        t0 = time.monotonic()
        obs = Observation()
        nxt = ckpt.save(rounds, step(state, stats).observe(obs, *metrics))
        t1 = time.monotonic()
        prev, stats = stats, obs.get
        t2 = time.monotonic()
        try:
            converged = stop(stats, prev)
            row = record(nxt, stats, prev) if record else stats
        except BaseException:
            release(nxt)
            release(state)
            raise
        phase_ms = {k: round(v * 1000.0, 3) for k, v in (
            ("materialize", t1 - t0), ("stats", t2 - t1),
            ("record", time.monotonic() - t2))}
        ckpt.record(rounds, nxt, **row, converged=converged,
                    wall_ms=round(math.fsum(phase_ms.values()), 3),
                    phase_ms=phase_ms)
        release(state)
        state = nxt
        if converged:
            break
    return Fixpoint(state=state, rounds=rounds, converged=converged,
                    stats=stats or {})
