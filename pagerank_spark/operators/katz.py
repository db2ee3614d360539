"""Katz centrality: attenuated path counting over the link graph.

Absent from the reference (SURVEY.md §2.9 covers the PageRank family);
added as the third classic link centrality next to PageRank and HITS —
the same per-dst gather shape as the reference's SpMV hot loop
(/root/reference/kernel_bblock.cu:337), with additive attenuation instead
of stochastic normalization (Katz, "A new status index derived from
sociometric analysis", Psychometrika 1953):

  x_0(v) = beta
  x_t(v) = beta + alpha * Σ_{(u,v) ∈ E} x_{t-1}(u)

so x converges to beta·Σ_k alpha^k (A^T)^k 1 — every incoming path of
length k contributes alpha^k. Duplicate edges add weight, matching the
engine's one-line-per-edge convention (kernel_bblock.cu:601-618). The
fixed-iteration trajectory is pure +/× over doubles, so the DuckDB oracle
can unroll it exactly (fp sum-order noise ~1e-15, far below the 6-decimal
comparison grid).

Scale shape: per iteration ONE join+aggregate gather over the O(E) edge
table (pinned once, re-scanned per round); only O(V) score state moves.
Convergence (tol mode) rides the gather as an observed metric of the
round's one job (plans/fixpoint.py) — no extra O(V) scan. Hot destinations
reuse the engine's two-level salted aggregation via the shared
contribution kernel discipline: the gather is groupBy(dst).sum, which
Spark partial-aggregates map-side, so a hub dst reduces to one row per
map task before the shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import fixpoint, release


@dataclass
class KatzResult:
    scores: DataFrame          # (id long, katz double)
    iterations: int
    converged: bool
    l1_diff: float


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 20,
    tol: float | None = None,
    universe: DataFrame | None = None,
    weight_col: str | None = None,
) -> KatzResult:
    """Katz scores after ``max_iter`` synchronous updates (or earlier if
    the L1 step difference falls to ``tol``).

    ``alpha`` must satisfy alpha < 1/λ_max(A) for the series to converge;
    the traditional safe default for sparse web graphs is well below
    1/max_in_degree. ``beta`` is the exogenous score injected at every
    vertex each round. ``universe``: optional (id) frame — isolated
    vertices score exactly beta. ``weight_col``: optional edge-weight
    column; contributions scale by it (duplicates still add).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
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

    contrib_expr = (F.col("katz") * F.col(weight_col)
                    if weight_col else F.col("katz"))

    def step(state: DataFrame, _prev) -> DataFrame:
        gathered = (
            e.join(state.select(F.col("id").alias("src"), "katz"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(contrib_expr).alias("contrib"))
        )
        return (
            state.select("id", F.col("katz").alias("prev"))
            .join(gathered, "id", "left")
            .select(
                "id",
                (F.lit(beta) + F.lit(alpha)
                 * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("katz"),
                "prev",
            )
        )

    run = fixpoint(vertices.select("id", F.lit(beta).alias("katz")), step,
                   [F.sum(F.abs(F.col("katz") - F.col("prev"))).alias("l1")],
                   lambda stats, _: tol is not None and stats["l1"] <= tol,
                   max_iter)
    release(e)
    return KatzResult(scores=run.state.select("id", "katz"), iterations=run.rounds,
                      converged=run.converged, l1_diff=run.stats["l1"])
