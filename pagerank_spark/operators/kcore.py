"""k-core: iterative peeling of the undirected simple graph.

Absent from the reference (SURVEY.md §2.9); added because coreness is the
standard link-graph density/spam signal (a crawl's k-core is its densely
interlinked nucleus). The peel loop is the degree-threshold dual of the
reference's degree binning (/root/reference/kernel_bblock.cu:622-659):
instead of routing vertices by degree bin, vertices below the threshold are
removed and degrees recomputed until fixpoint.

Semantics: the k-core is the maximal induced subgraph of the undirected
simple graph (self-loops dropped, duplicate edges collapsed) in which every
vertex has degree >= k. Peeling — repeatedly deleting vertices with degree
< k — converges to exactly that subgraph regardless of deletion order,
which is what makes the fixed-round unrolled SQL oracle exact: extra rounds
past the fixpoint are no-ops.

Scale shape: each round is one groupBy-count over the surviving edge set
plus two semi-joins to filter it; the edge set only ever shrinks. The
surviving edge count rides each round's materialization as an observed
metric (one Spark job per round, plans/fixpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges
from pagerank_spark.plans.fixpoint import fixpoint, pin


@dataclass
class KCoreResult:
    vertices: DataFrame    # (id long, core_deg long) — degree inside the core
    edges: DataFrame       # surviving canonical (a < b) edge set
    k: int
    rounds: int
    converged: bool


def k_core(edges: DataFrame, k: int, max_rounds: int = 50) -> KCoreResult:
    """Peel to the k-core; returns surviving vertices with in-core degree."""

    def step(cur: DataFrame, _prev) -> DataFrame:
        deg = (
            cur.select(F.col("a").alias("id")).unionAll(cur.select(F.col("b").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("id")
        return (
            cur.join(keep.select(F.col("id").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("id").alias("b")), "b", "left_semi")
            .select("a", "b")
        )

    # a vertex is removed iff it had >=1 edge and all its edges die with
    # it, so edge-count equality <=> no vertex removed this round
    count = [F.count(F.lit(1)).alias("n_edges")]
    cur, n_edges = pin(simple_edges(edges), *count)
    run = fixpoint(cur, step, count, lambda stats, prev: stats == prev,
                   max_rounds, stats=n_edges)
    cur = run.state
    deg = (
        cur.select(F.col("a").alias("id")).unionAll(cur.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )
    return KCoreResult(vertices=deg, edges=cur, k=k, rounds=run.rounds,
                       converged=run.converged)
