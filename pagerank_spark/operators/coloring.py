"""Greedy graph coloring: deterministic speculative rounds.

Absent from the reference (a CUDA PageRank kernel, kernel_bblock.cu) —
engine-surface depth in the SURVEY.md §2.9 family, the scheduling twin of
operators/mis.py. Algorithm: speculative coloring with deterministic
conflict resolution (Gebremedhin & Manne, "Scalable Parallel Graph
Coloring Algorithms", Concurrency: Pract. Exper. 2000; the
Jones-Plassmann 1993 priority rule decides conflicts): every round, every
still-uncolored vertex TENTATIVELY picks the smallest colour not used by
its already-coloured neighbours (the greedy mex rule, so at most Δ+1
colours); where two adjacent vertices picked the same colour, the one
with the smaller static priority ``(h(id), id)`` keeps it and the other
retries next round. Pure Jones-Plassmann (colour only when minimum among
uncoloured neighbours) was measured first and rejected: its round count
is the longest priority-decreasing path, which on a dense fixture
exceeded 60 rounds; the speculative variant colours every
conflict-free vertex per round instead (9 rounds on the same input).

Static priorities make the result independent of partitioning and round
scheduling; the md5-derived hash and the mex follow the repo's
shared-hash discipline — computable bit-identically in DuckDB — so the
whole fixpoint unrolls into a SQL oracle (`mex` is
``array_min(array_except(sequence(0, |used|), used))`` on the Spark side:
the candidate range is one longer than the used set, so the minimum
missing value always exists).

Scale shape (10^12 vertices): one round = one equi-join of the ACTIVE
vertices' edges against the coloured table with a collect_set aggregate
(fan-in bounded by vertex degree — the used-set per vertex holds at most
Δ colours) + one conflict equi-join over the ACTIVE edge set + one
anti-join. Active vertices shrink by the conflict-free fraction each
round (most of the graph in round one — only same-colour adjacent
speculations retry); no windows, no driver state beyond a per-round
emptiness scalar (components.py discipline).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


@dataclass
class ColoringResult:
    colors: DataFrame       # (id long, color int, round int)
    rounds: int
    n_colors: int
    converged: bool


def _priority(id_col):
    """Static 60-bit md5-derived vertex priority (mis._priority with a
    fixed salt — conflict resolution needs the SAME order every round)."""
    return F.conv(F.substring(F.md5(
        F.concat(id_col.cast("string"), F.lit(":c"))), 1, 15), 16, 10
    ).cast("long")


def _mex(used):
    """Smallest non-negative integer not in the integer array ``used``
    (mex ≤ |used|, so 0..|used| always contains it); empty/NULL → 0."""
    cand = F.sequence(F.lit(0), F.size(used))
    return (F.when(used.isNull(), F.lit(0))
            .otherwise(F.array_min(F.array_except(cand, used))))


def greedy_coloring(edges: DataFrame, max_rounds: int = 60,
                    universe: DataFrame | None = None) -> ColoringResult:
    """Deterministic speculative colouring of the undirected simple graph
    of ``edges (src, dst)``; self-loops dropped, direction and
    multiplicity ignored.

    Returns every vertex with its colour (0-based, ≤ its degree) and the
    round it was decided in. With ``universe`` (a single-column frame of
    ALL vertex ids), isolated vertices absent from the edge table are
    included (colour 0 in round 0).
    """
    und = simple_edges(edges)
    sym = und.unionAll(und.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
    verts = sym.select(F.col("a").alias("id")).distinct()
    if universe is not None:
        verts = verts.unionByName(
            universe.select(F.col(universe.columns[0]).alias("id"))
        ).distinct()

    active_v = verts.localCheckpoint(eager=True)
    # the full symmetric edge table feeds the used-colour gather (coloured
    # neighbours are no longer active); the ACTIVE edge table drives the
    # conflict test and shrinks with the active set
    all_e = sym.localCheckpoint(eager=True)
    active_e = all_e
    # append-only colour state (the landmark_bfs visited-layers fix):
    # each round checkpoints ONLY its batch; consumers union the cached
    # batches lazily instead of rewriting the O(V) coloured set per round
    batches: list[DataFrame] = []
    rounds, converged = 0, False
    spark = edges.sparkSession

    def colored_view() -> DataFrame | None:
        if not batches:
            return None
        out = batches[0]
        for b in batches[1:]:
            out = out.unionByName(b)
        return out

    for r in range(max_rounds):
        if active_v.isEmpty():
            converged = True
            break
        rounds = r + 1
        # tentative colour: mex over already-coloured neighbours
        colored = colored_view()
        if colored is None:
            tent = active_v.select("id", F.lit(0).alias("c"))
        else:
            used = (all_e
                    .join(active_v.withColumnRenamed("id", "a"), "a")
                    .join(colored.select(F.col("id").alias("b"), "color"),
                          "b")
                    .groupBy("a").agg(F.collect_set("color").alias("used"))
                    .withColumnRenamed("a", "id"))
            tent = (active_v.join(used, "id", "left")
                    .select("id", _mex(F.col("used")).alias("c")))
        # conflicts: adjacent ACTIVE pair with the same tentative colour —
        # the larger (h, id) endpoint retries next round
        pri = lambda c: F.struct(_priority(c).alias("h"), c.alias("id"))  # noqa: E731
        losers = (active_e
                  .join(tent.select(F.col("id").alias("a"),
                                    F.col("c").alias("ca")), "a")
                  .join(tent.select(F.col("id").alias("b"),
                                    F.col("c").alias("cb")), "b")
                  .filter((F.col("ca") == F.col("cb"))
                          & (pri(F.col("b")) < pri(F.col("a"))))
                  .select(F.col("a").alias("id")).distinct())
        batch = (tent.join(losers, "id", "left_anti")
                 .select("id", F.col("c").cast("int").alias("color"),
                         F.lit(r).cast("int").alias("round"))
                 .localCheckpoint(eager=True))
        batches.append(batch)
        gone = batch.select("id")
        active_v = active_v.join(gone, "id", "left_anti"
                                 ).localCheckpoint(eager=True)
        active_e = (active_e
                    .join(gone.withColumnRenamed("id", "a"), "a", "left_anti")
                    .join(gone.withColumnRenamed("id", "b"), "b", "left_anti")
                    .select("a", "b").localCheckpoint(eager=True))
    else:
        converged = active_v.isEmpty()

    colored = colored_view()
    if colored is None:
        colored = spark.createDataFrame([], "id long, color int, round int")
    n_colors = colored.agg(F.countDistinct("color")).first()[0] or 0
    return ColoringResult(colors=colored, rounds=rounds,
                          n_colors=int(n_colors), converged=converged)
