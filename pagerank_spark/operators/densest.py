"""Densest subgraph: parallel greedy peeling (2(1+ε)-approximation).

Absent from the reference (a CUDA PageRank kernel) — engine-surface depth
in the SURVEY.md §2.9 family. Algorithm: Bahmani, Kumar, Vassilvitskii,
"Densest Subgraph in Streaming and MapReduce" (VLDB 2012): repeatedly
drop every vertex whose degree is ≤ 2(1+ε)·ρ (ρ = current |E|/|V|); some
iterate's density is within 2(1+ε) of the optimum, and the peel finishes
in O(log_{1+ε} n) rounds. On a link graph the densest iterate is the
mutual-linking core (link farms, mirror clusters) — the same spam-shaped
structure TrustRank's spam mass flags, found structurally instead.

Deterministic: the only arithmetic is integer degree counts against a
threshold whose factor 2(1+ε) is one Python double, so the peel sequence
is reproducible under any partitioning (and replicated exactly by the
SQL oracle with the same double literal).

Scale shape (10^12 edges): a round is one groupBy degree count
(map-side combinable), a broadcast-scalar filter, and two semi-joins to
shrink the edge set — no windows, no collect beyond the per-round (|V|,
|E|) scalars the algorithm itself needs. The edge set shrinks
geometrically; round count is logarithmic by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


@dataclass
class DensestResult:
    stats: DataFrame        # (round, n_vertices, n_edges, density, is_best)
    best_vertices: DataFrame    # (id) of the densest iterate
    best_round: int
    best_density: float
    rounds: int


def densest_subgraph(edges: DataFrame, epsilon: float = 0.1,
                     max_rounds: int = 60) -> DensestResult:
    """Peel the undirected simple graph of ``edges (src, dst)`` until empty;
    return per-round peel stats and the densest iterate."""
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0: {epsilon}")
    spark = edges.sparkSession
    factor = 2.0 * (1.0 + epsilon)
    e = simple_edges(edges).localCheckpoint(eager=True)
    v = (e.select(F.col("a").alias("id"))
         .unionByName(e.select(F.col("b").alias("id"))).distinct()
         .localCheckpoint(eager=True))

    rows: list[tuple[int, int, int, float]] = []
    best = None  # (density, -round, vertices_df)
    rounds = 0
    for r in range(max_rounds):
        nv = v.count()
        if nv == 0:
            break
        rounds = r + 1
        ne = e.count()
        rho = ne / nv
        rows.append((r, nv, ne, rho))
        if best is None or rho > best[0]:
            best = (rho, r, v)
        deg = (e.select(F.col("a").alias("id"))
               .unionByName(e.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
        v = (v.join(deg, "id", "left")
             .filter(F.coalesce("d", F.lit(0)) > F.lit(factor * rho))
             .select("id").localCheckpoint(eager=True))
        e = (e.join(v.withColumnRenamed("id", "a"), "a", "left_semi")
             .join(v.withColumnRenamed("id", "b"), "b", "left_semi")
             .select("a", "b").localCheckpoint(eager=True))

    best_density, best_round, best_v = best if best else (0.0, -1, v)
    stats = spark.createDataFrame(
        [(r, nv, ne, float(rho), r == best_round)
         for r, nv, ne, rho in rows],
        "round int, n_vertices long, n_edges long, density double, "
        "is_best boolean")
    return DensestResult(stats=stats, best_vertices=best_v,
                         best_round=best_round,
                         best_density=float(best_density), rounds=rounds)
