"""Edge support and k-truss decomposition of the undirected simple graph.

Absent from the reference (it computes PageRank only; SURVEY.md §2.9) but a
standard link-graph cohesion analytic (Cohen, "Trusses: cohesive subgraphs
for social network analysis", NSA tech report 2008): the k-truss is the
maximal subgraph in which every edge closes at least k-2 triangles — a
stricter, edge-local cousin of the k-core that web-spam and community
pipelines use to find tightly knit link farms / cores.

Formulation: per round, edge support comes from the degree-oriented
triangle enumeration of ``triangles.py`` (each triangle surfaces once; its
three edges get +1 via an explode + hash aggregate — the A2 shuffle shape
with map-side partials), then edges with support < k-2 are dropped and the
round repeats on the survivors. The surviving edge count rides each round's
materialization as an observed metric, so one round is exactly the
jobs of a triangle count plus one filter. Rounds are bounded by the peel
depth (small on web graphs); each round's work is the Schank-Wagner
oriented join whose wedge fan-out is O(sqrt(m)) per vertex — the same
skew bound the triangle counter relies on, so no new hot-key hazard.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges
from pagerank_spark.operators.triangles import _oriented
from pagerank_spark.plans.fixpoint import fixpoint, pin, release


def _support_of(s: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Support per canonical (a < b) edge of the ALREADY-simple pair set
    ``s``. Returns (support_df lazy, oriented_checkpoint) — the caller
    must materialize the former before unpersisting the latter."""
    e = _oriented(s.select(F.col("a").alias("src"), F.col("b").alias("dst")),
                  order_by_degree=True).localCheckpoint(eager=True)
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"))
        .join(e.select(F.col("a").alias("x"), F.col("b").alias("z")),
              ["x", "z"])
    )
    sides = (
        tri.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(tri.select(F.col("y").alias("u"), F.col("z").alias("v")))
        .unionAll(tri.select(F.col("x").alias("u"), F.col("z").alias("v")))
    )
    cnt = (
        sides.select(F.least("u", "v").alias("a"),
                     F.greatest("u", "v").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    )
    sup = (
        s.join(cnt, ["a", "b"], "left")
        .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
    )
    return sup, e


def edge_support(edges: DataFrame) -> DataFrame:
    """(a, b, support) per undirected simple edge (a < b): the number of
    triangles the edge participates in. Edges in no triangle get 0."""
    sup, _ = _support_of(simple_edges(edges).localCheckpoint(eager=True))
    return sup


@dataclass
class TrussResult:
    edges: DataFrame       # (a long, b long) — surviving k-truss edges
    rounds: int
    converged: bool


def k_truss(edges: DataFrame, k: int, max_rounds: int = 100) -> TrussResult:
    """Edges of the k-truss: every surviving edge closes >= k-2 triangles
    WITHIN the surviving subgraph (peel to fixpoint)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    pins: list[DataFrame] = []

    def step(cur: DataFrame, _prev) -> DataFrame:
        while pins:  # the previous round is materialized: drop its copy
            release(pins.pop())
        sup, oriented = _support_of(cur)
        pins.append(oriented)
        return sup.filter(F.col("support") >= k - 2).select("a", "b")

    # an edge is dropped iff the surviving edge count falls
    count = [F.count(F.lit(1)).alias("n_edges")]
    cur, n_edges = pin(simple_edges(edges), *count)
    run = fixpoint(cur, step, count, lambda stats, prev: stats == prev,
                   max_rounds, stats=n_edges)
    for oriented in pins:
        release(oriented)
    return TrussResult(edges=run.state, rounds=run.rounds, converged=run.converged)
