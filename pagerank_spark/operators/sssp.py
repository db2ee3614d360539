"""Weighted single/multi-source shortest paths (distributed Bellman-Ford).

Absent from the reference (SURVEY.md §2.9 lists the traversal family; BFS
covers only unit weights); added as the weighted companion to
operators/bfs.py — link-distance with per-edge costs (crawl latency, toll
weights, -log(p) path probabilities).

Semantics: dist(v) = minimum total weight over directed paths from the
source set; sources have dist 0; unreachable vertices are absent from the
output. Weights must be non-negative (validated on the materialized edge
projection — negative-cycle graphs have no shortest paths).

Algorithm: Bellman-Ford with frontier restriction — per round only edges
out of vertices whose distance IMPROVED last round are relaxed (the
distributed analogue of the queue-based SPFA refinement), so work per
round is O(E_frontier), not O(E):

  relax:  cand(dst) = min over frontier edges of dist(src) + w
  merge:  dist'(v) = min(dist(v), cand(v)); improved rows form the next
          frontier; fixpoint when no row improves.

The improved-row count rides each round's materialization as an observed
metric (one Spark job per round, plans/fixpoint.py). Scale shape: per
round one join of the pinned O(E) edge table against the shrinking
frontier plus one O(V) merge keyed on id; hub relaxations collapse
map-side in the min-aggregate (min is the same partial-aggregable shape
as the PageRank contribution sum, A2).

Determinism: each candidate is one add (parent dist + w) and min is
order-independent, so results are bit-stable under any partitioning; with
exactly-representable weights (integers) the trajectory is exact and the
DuckDB oracle unrolls identical rounds.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import fixpoint, pin, release


@dataclass
class SsspResult:
    distances: DataFrame   # (id long, dist double) — reachable vertices only
    rounds: int            # relaxation rounds actually executed
    converged: bool        # True when a round improved nothing


def shortest_paths(
    edges: DataFrame,
    sources: Sequence[int] | DataFrame,
    weight_col: str | None = "w",
    max_rounds: int = 50,
) -> SsspResult:
    """Minimum-weight distance from ``sources`` along directed ``edges``.

    ``weight_col=None`` uses unit weights (then this computes exactly
    ``bfs_hops`` distances, as a double). Parallel edges keep the cheapest.
    Raises ValueError if any weight is negative or non-finite.
    """
    spark = edges.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select("id").distinct()
    else:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "id long")

    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    # pin (src, dst, w) once — cheapest parallel edge only — and validate
    # non-negativity on the same materialization (observed, no extra scan)
    ew, got = pin(
        edges.select("src", "dst", w.alias("w"))
        .groupBy("src", "dst").agg(F.min("w").alias("w")),
        F.min("w").alias("min_w"),
        F.count(F.when(~F.col("w").isNotNull() | F.isnan("w")
                       | (F.abs("w") == float("inf")), 1)).alias("bad"))
    min_w, bad = got["min_w"], int(got["bad"] or 0)
    if bad or (min_w is not None and min_w < 0.0):
        release(ew)
        raise ValueError(
            f"shortest_paths requires finite non-negative weights "
            f"(min={min_w!r}, null/NaN rows={bad})")

    def step(state: DataFrame, _prev) -> DataFrame:
        cand = (
            ew.join(state.filter("improved")
                    .select(F.col("id").alias("src"), "dist"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        return (
            state.select("id", "dist").join(cand, "id", "full")
            .select(
                "id",
                F.least(F.col("dist"), F.col("cand")).alias("dist"),
                (F.col("dist").isNull()
                 | (F.col("cand") < F.col("dist"))).alias("improved"),
            )
        )

    # the state is (id, dist, improved): the improved rows are the frontier
    state = src_df.select("id", F.lit(0.0).alias("dist"),
                          F.lit(True).alias("improved")).localCheckpoint(eager=True)
    run = fixpoint(state, step, [F.sum(F.col("improved").cast("long")).alias("n")],
                   lambda stats, _: not stats["n"], max_rounds)
    release(ew)
    # the round that improved nothing only confirmed the fixpoint
    rounds = run.rounds - 1 if run.converged else run.rounds
    return SsspResult(distances=run.state.select("id", "dist"), rounds=rounds,
                      converged=run.converged)
