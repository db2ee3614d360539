"""Maximal matching: deterministic locally-dominant edge rounds.

Absent from the reference (a CUDA PageRank kernel, kernel_bblock.cu) —
engine-surface depth in the SURVEY.md §2.9 family, the edge-side twin of
operators/mis.py. Algorithm: parallel locally-dominant matching (Preis
1999; Manne & Bisseling, "A Parallel Approximation Algorithm for the
Weighted Maximum Matching Problem", PPAM 2007): give every undirected
edge a static priority ``(h(a,b), a, b)``; in each round an active edge
joins the matching iff it is the strict minimum-priority active edge at
BOTH endpoints; matched endpoints (and all their incident edges)
deactivate. The globally minimal active edge is always locally dominant,
so every round matches at least one edge and the fixpoint is a maximal
matching; with hash priorities the expected round count is O(log n).

The md5-derived priority follows the mis.py/dedup.py shared-hash
discipline — computable bit-identically in DuckDB — so the whole
fixpoint unrolls into a SQL oracle.

Scale shape (10^12 vertices): one round = one symmetric explode of the
active edge set + a per-vertex min-struct hash aggregate (map-side
combinable) + one equi-join back on each endpoint + two anti-joins to
shrink the active set. Active edges shrink geometrically (each matched
edge removes all edges at two vertices); no windows, no driver state
beyond the per-round emptiness scalar (components.py discipline).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


@dataclass
class MatchingResult:
    edges: DataFrame        # (a long, b long, round int), a < b
    rounds: int
    converged: bool


def _edge_priority(a, b):
    """60-bit md5-derived static edge priority (mis._priority discipline:
    reproducible in the DuckDB oracle, cost is noise next to the round's
    shuffle)."""
    return F.conv(F.substring(F.md5(
        F.concat(a.cast("string"), F.lit(":"), b.cast("string"))), 1, 15),
        16, 10).cast("long")


def maximal_matching(edges: DataFrame, max_rounds: int = 40) -> MatchingResult:
    """Deterministic locally-dominant maximal matching over the undirected
    simple graph of ``edges (src, dst)``; self-loops dropped, direction
    and multiplicity ignored.

    Returns the matched edges as ``(a, b, round)`` with ``a < b`` and the
    round each edge was decided in.
    """
    und = simple_edges(edges)
    active = und.select(
        "a", "b",
        F.struct(_edge_priority(F.col("a"), F.col("b")).alias("h"),
                 F.col("a").alias("a"), F.col("b").alias("b")).alias("p")
    ).localCheckpoint(eager=True)

    matched: DataFrame | None = None
    rounds, converged = 0, False
    spark = edges.sparkSession

    for r in range(max_rounds):
        if active.isEmpty():
            converged = True
            break
        rounds = r + 1
        # min incident edge priority per endpoint (symmetric explode;
        # min-struct agg is map-side combinable)
        inc = active.select(F.col("a").alias("v"), "p").unionAll(
            active.select(F.col("b").alias("v"), "p"))
        vmin = inc.groupBy("v").agg(F.min("p").alias("mp"))
        wins = (active
                .join(vmin.withColumnRenamed("v", "a")
                      .withColumnRenamed("mp", "ma"), "a")
                .join(vmin.withColumnRenamed("v", "b")
                      .withColumnRenamed("mp", "mb"), "b")
                .filter((F.col("p") == F.col("ma"))
                        & (F.col("p") == F.col("mb")))
                .select("a", "b", F.lit(r).alias("round")))
        batch = wins.localCheckpoint(eager=True)
        # append-only: the matched union is only read after the loop —
        # assemble it lazily from the checkpointed batches
        matched = (batch if matched is None
                   else matched.unionByName(batch))
        gone = (batch.select(F.col("a").alias("v"))
                .unionAll(batch.select(F.col("b").alias("v"))).distinct())
        active = (active
                  .join(gone.withColumnRenamed("v", "a"), "a", "left_anti")
                  .join(gone.withColumnRenamed("v", "b"), "b", "left_anti")
                  .localCheckpoint(eager=True))
    else:
        converged = active.isEmpty()

    if matched is None:
        matched = spark.createDataFrame([], "a long, b long, round int")
    return MatchingResult(
        edges=matched.select("a", "b", F.col("round").cast("int").alias("round")),
        rounds=rounds, converged=converged)


@dataclass
class VertexCoverResult:
    vertices: DataFrame     # (id long) — the cover
    rounds: int
    converged: bool


def vertex_cover(edges: DataFrame, max_rounds: int = 40) -> VertexCoverResult:
    """2-approximate minimum vertex cover (Gavril's classic bound, see
    e.g. Cormen et al. §35.1): take the endpoints of any MAXIMAL matching.
    Every edge is covered — an uncovered edge would have both endpoints
    unmatched and could join the matching, contradicting maximality — and
    the cover has at most 2x the optimum, since the optimum must pick at
    least one endpoint of each matched edge and matched edges are
    vertex-disjoint.

    Scale shape: everything is :func:`maximal_matching` (the fixpoint does
    all the work); the cover itself is one union projection — matched
    edges are vertex-disjoint, so the union is duplicate-free with NO
    distinct and no extra shuffle.
    """
    res = maximal_matching(edges, max_rounds=max_rounds)
    verts = (res.edges.select(F.col("a").alias("id"))
             .unionByName(res.edges.select(F.col("b").alias("id"))))
    return VertexCoverResult(vertices=verts, rounds=res.rounds,
                             converged=res.converged)
