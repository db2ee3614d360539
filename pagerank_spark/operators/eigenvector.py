"""Eigenvector centrality: power iteration over the link graph.

Absent from the reference (SURVEY.md §2.9 covers the PageRank family);
added as the fourth classic link centrality next to PageRank, HITS and
Katz — the same per-dst gather shape as the reference's SpMV hot loop
(/root/reference/kernel_bblock.cu:337), with L1 renormalization instead of
teleport damping (Bonacich, "Factoring and weighting approaches to status
scores and clique identification", J. Math. Sociology 1972):

  x_0(v) = 1
  x_t(v) = Σ_{(u,v) ∈ E} x_{t-1}(u),  then L1-normalize (Σ x = 1)

L1 (not the textbook L2) normalization keeps the fixed-iteration
trajectory sqrt-free, so the DuckDB oracle can unroll the identical +/×/÷
double arithmetic (fp sum-order noise ~1e-15, twelve orders below the
6-decimal comparison grid) — the same determinism argument as
operators/hits.py. Any p-norm yields the same ranking. Duplicate edges add
weight, matching the engine's one-line-per-edge convention
(/root/reference/kernel_bblock.cu:601-618).

Scale shape: per iteration ONE join+aggregate gather over the O(E) edge
table (pinned once), exactly the engine's A2 contribution kernel — hub
destinations collapse map-side before the shuffle. The L1 total rides the
materialization as an observed metric (no extra O(V) job), and the
normalization is a per-row division by that scalar. Unlike PageRank there
is no teleport to re-seed mass, so a layered DAG can legitimately drain to
zero — that degenerate total is raised as ValueError instead of silently
emitting NaN ranks (the same guard discipline as pagerank() warm-start and
ppr_batch seed validation).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import fixpoint, release


@dataclass
class EigenvectorResult:
    scores: DataFrame          # (id long, eig double), Σ eig = 1
    iterations: int


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 3,
    universe: DataFrame | None = None,
    weight_col: str | None = None,
) -> EigenvectorResult:
    """L1-normalized eigenvector scores after ``iterations`` synchronous
    power-iteration updates.

    ``edges``: (src, dst) directed, duplicates meaningful. ``universe``:
    optional (id) frame — vertices with no in-links score 0 but stay in
    the output. ``weight_col``: optional edge-weight column; contributions
    scale by it. Raises ValueError if the gathered mass drains to a
    non-positive or non-finite total (e.g. a layered DAG one level deeper
    than the iteration count) — eigenvector centrality is undefined there.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    e = edges.select(*cols).localCheckpoint(eager=True)
    vertices = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    if universe is not None:
        vertices = vertices.unionAll(universe.select("id")).distinct()
    vertices = vertices.localCheckpoint(eager=True)

    contrib_expr = F.col("eig") * F.col(weight_col) if weight_col else F.col("eig")
    rounds = itertools.count(1)

    def normalized(raw: DataFrame, stats) -> DataFrame:  # state = raw gather
        return raw.select("id", (F.col("eig") / F.lit(stats["l1"])).alias("eig"))

    def step(raw: DataFrame, prev) -> DataFrame:
        return (e.join(normalized(raw, prev).withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id")).agg(F.sum(contrib_expr).alias("eig")))

    def drained(stats, _prev) -> bool:
        it, total = next(rounds), float(stats["l1"] or 0.0)
        if not 0.0 < total < float("inf"):
            raise ValueError(
                f"eigenvector mass degenerated at iteration {it}: "
                f"L1 total = {total!r} (graph drains under pure power "
                f"iteration; use pagerank() for a teleport-damped variant)")
        return False

    run = fixpoint(vertices.select("id", F.lit(1.0).alias("eig")), step,
                   [F.sum(F.abs("eig")).alias("l1")], drained, iterations,
                   stats={"l1": 1.0})
    scores = (
        vertices.join(normalized(run.state, run.stats), "id", "left")
        .select("id", F.coalesce("eig", F.lit(0.0)).alias("eig"))
    )
    release(e)
    return EigenvectorResult(scores=scores, iterations=iterations)
