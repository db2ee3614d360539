"""Maximal independent set: deterministic Luby rounds (hash priorities).

Absent from the reference (a CUDA PageRank kernel, kernel_bblock.cu) —
engine-surface depth in the SURVEY.md §2.9 family. Algorithm: Luby, "A
Simple Parallel Algorithm for the Maximal Independent Set Problem" (SIAM
J. Comput. 1986), derandomized with a per-round keyed hash priority so the
result is identical under any partitioning and reproducible in a SQL
oracle: in round r, an active vertex joins the MIS iff its priority
``(h(id, r), id)`` is strictly smaller than every active neighbour's; MIS
winners and their neighbours deactivate. Expected O(log n) rounds.

Scale shape (10^12 vertices): one round = one J1-shaped equi-join of the
active edge set against the per-vertex priority table + a min-struct hash
aggregate (map-side combinable) + two hash semi/anti-joins to shrink the
active sets. The ACTIVE edge set shrinks geometrically — Luby's analysis
removes a constant fraction of edges per round in expectation — so the
dominant cost is the first couple of rounds; no windows, no collect beyond
a per-round convergence scalar (same discipline as components.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


@dataclass
class MISResult:
    members: DataFrame      # (id long, in_mis boolean, round int)
    rounds: int
    converged: bool


def _priority(id_col, r: int):
    """60-bit md5-derived per-round priority — computable IDENTICALLY in
    DuckDB (dedup.shared_hash60 discipline) so the whole fixpoint can be
    unrolled into a SQL oracle. xxhash64 would be cheaper JVM-side but is
    not reproducible in the oracle engine; at one hash per ACTIVE vertex
    per round the md5 cost is noise next to the round's shuffle."""
    return F.conv(F.substring(F.md5(
        F.concat(id_col.cast("string"), F.lit(f":{r}"))), 1, 15), 16, 10
    ).cast("long")


def maximal_independent_set(edges: DataFrame, max_rounds: int = 40,
                            universe: DataFrame | None = None) -> MISResult:
    """Deterministic-Luby MIS over the undirected simple graph of
    ``edges (src, dst)``; self-loops dropped, direction ignored.

    Returns every vertex with ``in_mis`` and the round it was decided in
    (winners and their deactivated neighbours share the round number).
    With ``universe`` (a single-column frame of ALL vertex ids), isolated
    vertices absent from the edge table are included (they join the MIS in
    round 0, having no neighbours).
    """
    sym = simple_edges(edges)
    sym = sym.unionAll(sym.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
    verts = sym.select(F.col("a").alias("id")).distinct()
    if universe is not None:
        verts = verts.unionByName(
            universe.select(F.col(universe.columns[0]).alias("id"))
        ).distinct()

    active_v = verts.localCheckpoint(eager=True)
    active_e = sym.localCheckpoint(eager=True)
    decided: DataFrame | None = None
    rounds, converged = 0, False
    spark = edges.sparkSession

    for r in range(max_rounds):
        if active_v.isEmpty():
            converged = True
            break
        rounds = r + 1
        pri = active_v.select(
            "id", F.struct(_priority(F.col("id"), r).alias("h"),
                           F.col("id").alias("id")).alias("p"))
        # min neighbour priority per active vertex (vertices with no active
        # neighbour see NULL and win unconditionally)
        nbr_min = (active_e
                   .join(pri.withColumnRenamed("id", "b"), "b")
                   .groupBy("a").agg(F.min("p").alias("np")))
        winners = (pri.join(nbr_min.withColumnRenamed("a", "id"),
                            "id", "left")
                   .filter(F.col("np").isNull() | (F.col("p") < F.col("np")))
                   .select("id"))
        # winners' neighbours deactivate without joining the MIS
        losers = (active_e.join(winners.withColumnRenamed("id", "a"), "a")
                  .select(F.col("b").alias("id")).distinct())
        # append-only: only the round's batch is checkpointed (it feeds
        # the active-set anti-joins); the decided union is assembled
        # lazily at the end instead of being rewritten every round
        batch = (winners.select("id", F.lit(True).alias("in_mis"))
                 .unionByName(losers.select("id", F.lit(False).alias("in_mis")))
                 .select("id", "in_mis", F.lit(r).alias("round"))
                 .localCheckpoint(eager=True))
        decided = (batch if decided is None
                   else decided.unionByName(batch))
        gone = batch.select("id")
        active_v = active_v.join(gone, "id", "left_anti"
                                 ).localCheckpoint(eager=True)
        active_e = (active_e
                    .join(gone.withColumnRenamed("id", "a"), "a", "left_anti")
                    .join(gone.withColumnRenamed("id", "b"), "b", "left_anti")
                    .select("a", "b").localCheckpoint(eager=True))
    else:
        converged = active_v.isEmpty()

    if decided is None:
        decided = spark.createDataFrame(
            [], "id long, in_mis boolean, round int")
    return MISResult(members=decided.select(
        "id", "in_mis", F.col("round").cast("int").alias("round")),
        rounds=rounds, converged=converged)
