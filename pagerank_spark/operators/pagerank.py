"""PageRank: power iteration with dangling-mass redistribution + L1 stop.

Semantics follow the reference's main binaries exactly
(/root/reference/kernel_bblock.cu:949-1085):

  per superstep:
    mass   = sum(rank[v] for dangling v)            # A3, kernel_bblock.cu:107-132
    remain = alpha*mass/n + (1-alpha)/n             # P7, kernel_bblock.cu:966
    contrib[v] = sum_{e: dst(e)=v} rank[src(e)]*w   # A2/J1, kernel_bblock.cu:323-464
    rank'[v] = alpha*contrib[v] + remain            # P7 axpy
    l1 = sum |rank' - rank|                         # A4, kernel_bblock.cu:466-531
    stop when l1 <= tol (early exit, lightSpMV-style break PageRank.h:360)
    or run a fixed iteration budget (kernel_* style, kernel_bblock.cu:949)

Conventions: internal mass Σrank = 1 (lightSpMV init, PageRank.h:314-318);
the reference's Σ=n view is ``rank*n`` (nvgraph writes pr*n on output,
nvgraph_Pagerank.cpp:321). Under Σ=1, the reference's threshold
eps = 1e-6·n (kernel_bblock.cu:877) becomes total-L1 <= 1e-6. fp64
throughout: the reference's fp32 atomicAdd ordering is non-deterministic
(kernel_acsr.cu:118); fp64 keeps us inside the 1e-6 allclose contract.

Physical design (what makes this hold at 10^12 edges):
  * the weighted edge table is hash-partitioned by ``src`` ONCE at build
    (operators/graph.py) and cached — per iteration only the O(n) rank
    table shuffles to meet it; the O(nnz) table never moves.
  * the contribution aggregate relies on Spark's partial (map-side)
    aggregation to collapse edge-cardinality rows to per-(partition,dst)
    rows before the shuffle — the two-level tree reduction of
    child_kernal (kernel_acsr.cu:93-120) for free — plus explicit salting
    for power-law head destinations (two-level groupBy), the analogue of
    the one-block-per-hot-vertex kernel (kernel_bblock.cu:219-260).
  * each superstep runs through plans/fixpoint.py and checkpoints through
    plans/checkpoint.py: lineage stays O(1), and a dir-backed run resumes
    from the last committed superstep.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import LinkGraph, hot_vertex_salts, salted_edges
from pagerank_spark.plans.checkpoint import SuperstepCheckpointer
from pagerank_spark.plans.fixpoint import fixpoint, resume_point

ALPHA_DEFAULT = 0.85   # kernel_bblock.cu:876
TOL_DEFAULT = 1e-6     # kernel_bblock.cu:877 (eps = 1e-6*n under the Σ=n view)


@dataclass
class PageRankResult:
    ranks: DataFrame                  # (id long, rank double), Σrank = 1
    iterations: int
    converged: bool
    l1_diff: float
    metrics: list[dict[str, Any]] = field(default_factory=list)

    def reference_scale(self) -> DataFrame:
        """The reference's Σ=n view (nvgraph_Pagerank.cpp:321 writes pr*n)."""
        n = self.ranks.count()
        return self.ranks.select("id", (F.col("rank") * F.lit(float(n))).alias("rank"))


def _contributions(edges: DataFrame, ranks: DataFrame, salted: bool,
                   strategy: str = "merge") -> DataFrame:
    """contrib(dst) = Σ rank(src)·w — the SpMV row reduce (A2).

    ``strategy`` is the physical plan for THE hot join (SURVEY §2.3 J1),
    the analogue of the reference's small/large kernel split (K2):

    * ``broadcast`` — ship the rank table to every task. Fastest while the
      rank table is MBs (no shuffle at all), but the driver-side build is
      serial and dies at 10^12 vertices.
    * ``merge`` — the scale path: the edge table is cached hash-partitioned
      AND sorted by ``src`` (operators/graph.py), so the sort-merge join
      reuses that layout; per superstep only the O(V) rank table
      shuffles+sorts, the O(E) side streams from cache with no exchange
      and no re-sort.
    """
    joined = edges.join(
        ranks.select(F.col("id").alias("src"), "rank").hint(strategy), "src"
    ).select("dst", *((["salt"] if salted else [])), (F.col("rank") * F.col("w")).alias("c"))
    if salted:
        partial = joined.groupBy("dst", "salt").agg(F.sum("c").alias("c"))
        return partial.groupBy("dst").agg(F.sum("c").alias("contrib"))
    return joined.groupBy("dst").agg(F.sum("c").alias("contrib"))


def pagerank(
    graph: LinkGraph,
    alpha: float = ALPHA_DEFAULT,
    tol: float | None = TOL_DEFAULT,
    max_iter: int = 100,
    checkpointer: SuperstepCheckpointer | None = None,
    salt_hot_threshold: int = 100_000,
    salt_target_bucket: int = 50_000,
    resume: bool = False,
    join_strategy: str = "auto",
    broadcast_max_vertices: int = 2_000_000,
    init: str = "uniform",
    init_ranks: DataFrame | None = None,
    dangling_redistribution: bool = True,
    norm: str = "l1",
    bin_telemetry: bool = False,
    teleport: DataFrame | None = None,
) -> PageRankResult:
    """Run power iteration on a built LinkGraph.

    ``tol=None`` reproduces the reference's fixed-iteration mode
    (kernel_bblock.cu:949 never breaks on eps); otherwise early-exit on
    total L1 <= tol. ``resume=True`` with a dir-backed checkpointer picks
    up from the last committed superstep.

    ``join_strategy``: ``"auto"`` picks ``broadcast`` for the hot join
    while the rank table is small (< ``broadcast_max_vertices`` ~ tens of
    MB) and ``merge`` beyond — the size-adaptive dispatch the reference
    does per degree bin (K2/K4), applied to the whole graph. Pass
    ``"merge"`` or ``"broadcast"`` to pin the physical plan (benchmarks
    pin ``merge`` to measure the 10^12-scale path).

    Reference variant semantics, all default-off:

    * ``init="out_degree"`` — P5, the reference's dead initializer
      (kernel_bblock.cu:56-68: r=1/out_deg, dangling r=1/n), normalized
      to the engine's Σ=1 invariant. Converges to the same fixed point.
    * ``dangling_redistribution=False`` — P8, the lightSpMV semantic fork
      (PageRank.h:339-343): dangling mass leaks instead of being
      redistributed; Σrank < 1 at the fixed point.
    * ``norm="l2"`` — A5, the lightSpMV host-side stop criterion
      sqrt(Σ(new−old)²) ≤ tol (PageRank.h:56-66; tol 1e-8 there). The L1
      norm is still recorded in metrics either way.
    * ``bin_telemetry=True`` — A6, the per-degree-bin mean |Δrank| /
      unconverged-count CSV of the bblock binary (for_test.h:51-85),
      recorded into each superstep's metrics row (one extra small
      aggregate job per superstep).
    * ``init_ranks`` — warm start for incremental recompute: an
      ``(id, rank)`` DataFrame (e.g. the previous crawl's converged
      ranks) used as the initial vector after renormalization to Σ=1;
      ids absent from it seed at 1/n. The fixed point is unchanged —
      only the iteration count to reach it shrinks.
    * ``teleport`` — personalized (topic-sensitive) PageRank: an
      ``(id, p)`` DataFrame with Σp = 1. The lightSpMV finalize is
      ``d·(A^T r) + (1−d)·p`` with p its personalization vector
      (PageRank.h:314-343, uniform there); with redistribution the
      dangling mass is also re-injected proportionally to p:
      rank' = α·contrib + (α·mass + 1 − α)·p. Missing ids get p = 0.
      ``teleport=None`` is uniform p = 1/n (identical math, scalar
      fast path).
    """
    spark = graph.edges.sparkSession
    ckpt = checkpointer or SuperstepCheckpointer(spark, None)
    n = graph.n_vertices
    if join_strategy == "auto":
        strategy = "broadcast" if n <= broadcast_max_vertices else "merge"
    else:
        strategy = join_strategy

    # skew pre-pass: fan-out map for power-law head destinations (K1/K2)
    salts = hot_vertex_salts(graph.vertices, salt_hot_threshold, salt_target_bucket)
    use_salt = salts.limit(1).count() > 0
    edges = salted_edges(graph.edges, salts) if use_salt else graph.edges
    if use_salt:
        edges = edges.persist()
        edges.count()

    # Superstep state carries (id, rank, prev_rank, is_dangling) so the
    # superstep's own observed aggregate yields the L1 norm (A4), the NEXT
    # iteration's dangling mass (A3), and the conservation check — no extra
    # joins (the DataFrame analogue of the reference fusing `remain_value`
    # into its SpMV kernels, kernel_bblock.cu:966).
    dangling = F.sum(F.when(F.col("is_dangling"), F.col("rank")))
    start_iter, state = resume_point(ckpt, resume)
    if state is not None:
        if "is_dangling" not in state.columns:  # pre-fusion checkpoint
            state = state.join(graph.vertices.select("id", "is_dangling"), "id")
        if "prev_rank" not in state.columns:
            state = state.withColumn("prev_rank", F.col("rank"))
        # teleport/checkpoint consistency: a personalized run's state
        # carries its `p` column. Resuming with teleport=None must NOT
        # silently fall back to uniform teleport (different fixed
        # point!) — reuse the stored p. Resuming with a DIFFERENT
        # teleport must not silently keep the stale stored p — replace
        # it with the one passed.
        if "p" in state.columns:
            if teleport is None:
                teleport = state.select("id", "p")
            else:
                state = state.drop("p")
        if teleport is not None and "p" not in state.columns:
            state = state.join(
                teleport.select("id", "p"), "id", "left"
            ).withColumn("p", F.coalesce("p", F.lit(0.0)))
        mass = state.agg(dangling).first()[0] if dangling_redistribution else 0.0
    if state is None:
        if init_ranks is not None:
            # warm start (incremental recompute): seed from a previous run's
            # ranks — e.g. re-rank after a crawl delta. Vertices new to the
            # graph get the uniform 1/n seed; the vector is renormalized to
            # the engine's Σ=1 invariant, after which the fixed point is
            # unchanged and only the distance to it (iteration count)
            # shrinks. Same role as resuming, but across GRAPH versions
            # rather than within one run.
            raw = graph.vertices.select("id", "is_dangling").join(
                init_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
            ).withColumn("r0", F.coalesce("r0", F.lit(1.0 / n)))
            total = float(raw.agg(F.sum("r0")).first()[0])
            # guard the Σ=1 renormalization: an all-zero, negative-sum, or
            # NaN-polluted init vector would otherwise silently turn every
            # rank into NaN/inf for the whole run
            if not (math.isfinite(total) and total > 0.0):
                raise ValueError(
                    f"init_ranks must sum to a positive finite value over "
                    f"the graph's vertices; got {total!r}")
            state = raw.select(
                "id", (F.col("r0") / total).alias("rank"),
                (F.col("r0") / total).alias("prev_rank"), "is_dangling")
        elif init == "out_degree":
            # P5 (kernel_bblock.cu:56-68), normalized to Σ=1
            raw = graph.vertices.select(
                "id", "is_dangling",
                F.when(F.col("is_dangling"), F.lit(1.0 / n))
                .otherwise(F.lit(1.0) / F.col("out_deg")).alias("r0"))
            total = float(raw.agg(F.sum("r0")).first()[0])
            state = raw.select(
                "id", (F.col("r0") / total).alias("rank"),
                (F.col("r0") / total).alias("prev_rank"), "is_dangling")
        else:
            # P6 uniform init, Σ=1 (lightSpMV PageRank.h:314-318)
            state = graph.vertices.select(
                "id", F.lit(1.0 / n).alias("rank"),
                F.lit(1.0 / n).alias("prev_rank"), "is_dangling")
        if teleport is not None:
            state = state.join(
                teleport.select("id", "p"), "id", "left"
            ).withColumn("p", F.coalesce("p", F.lit(0.0)))
        obs = Observation()
        state = ckpt.save(0, state.observe(obs, dangling.alias("mass")))
        mass = obs.get["mass"]

    # A3 for the first superstep: dangling mass of the initial/loaded ranks
    # (one scalar to the driver, the cudaMemcpy of kernel_bblock.cu:965;
    # observed on the iter=0 save of a fresh run, one aggregate on resume;
    # subsequent masses ride along in the per-superstep stats aggregate).
    # P8 fork: the lightSpMV path never redistributes (mass pinned to 0).
    mass = float(mass or 0.0) if dangling_redistribution else 0.0

    bins = None
    if bin_telemetry:
        from pagerank_spark.operators.graph import degree_bins
        bins = degree_bins(graph.vertices).select("id", "bin")

    personalized = teleport is not None
    carry = ["prev_rank", "is_dangling"] + (["p"] if personalized else [])

    def mass_of(prev: dict[str, Any]) -> float:
        return float(prev["next_mass"] or 0.0) if dangling_redistribution else 0.0

    def step(state: DataFrame, prev: dict[str, Any]) -> DataFrame:
        mass = mass_of(prev)
        if personalized:
            # per-vertex teleport: rank' = α·contrib + (α·mass + 1−α)·p
            remain_expr = F.lit(alpha * mass + 1.0 - alpha) * F.col("p")
        else:
            remain_expr = F.lit(alpha * mass / n + (1.0 - alpha) / n)
        contribs = _contributions(edges, state.select("id", "rank"), use_salt,
                                  strategy=strategy)
        # left join against the full vertex universe (carried by `state`):
        # vertices with no in-edges still receive `remain`
        # (kernel_bblock.cu:333-339).
        return (
            state.select("id", F.col("rank").alias("prev_rank"), "is_dangling",
                         *(["p"] if personalized else []))
            .join(contribs.withColumnRenamed("dst", "id"), "id", "left")
            .select(
                "id",
                (F.lit(alpha) * F.coalesce(F.col("contrib"), F.lit(0.0))
                 + remain_expr).alias("rank"),
                *carry,
            )
        )

    def record(state: DataFrame, stats: dict[str, Any],
               prev: dict[str, Any]) -> dict[str, Any]:
        row: dict[str, Any] = {
            "l1_diff": stats["l1"], "l2_diff": math.sqrt(stats["l2sq"]),
            "dangling_mass": mass_of(prev),
            "rank_sum": stats["mass_sum"], "edges_processed": graph.n_edges}
        if bins is not None:
            # A6 telemetry (for_test.h:51-85): per-bin mean |Δ| + count over
            # the reference's 1e-5 precision threshold
            diff = F.abs(F.col("rank") - F.col("prev_rank"))
            row["bin_convergence"] = {
                int(r["bin"]): {"mean_abs_diff": float(r["mean_diff"]),
                                "unconverged": int(r["unconv"])}
                for r in state.join(bins, "id").groupBy("bin").agg(
                    F.avg(diff).alias("mean_diff"),
                    F.count(F.when(diff > 1e-5, 1)).alias("unconv"),
                ).collect()
            }
        return row

    def stop(stats: dict[str, Any], _prev: Any) -> bool:
        if tol is None:
            return False
        return (math.sqrt(stats["l2sq"]) if norm == "l2" else stats["l1"]) <= tol

    # fused A4 (L1) + A5 (L2) + A3 (next dangling mass) + conservation,
    # collected as OBSERVED metrics of the materialization itself: the
    # superstep is ONE Spark job (gather join + contribution agg + axpy
    # + checkpoint write + stats), not a materialize job plus a second
    # O(V) scan-aggregate — the DataFrame analogue of the reference
    # fusing its convergence reduction into the same kernel stream
    # (kernel_bblock.cu:1066-1072 runs on the buffers already on device).
    run = fixpoint(
        state, step,
        [F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("l1"),
         F.sum(F.pow(F.col("rank") - F.col("prev_rank"), 2)).alias("l2sq"),
         dangling.alias("next_mass"),
         F.sum("rank").alias("mass_sum")],
        stop, max_iter, checkpointer=ckpt, start=start_iter,
        stats={"next_mass": mass}, record=record)

    if use_salt:
        edges.unpersist()  # the salted O(E) copy is loop-local

    # dir-backed: full on-disk history (earlier runs' iterations included
    # after a resume), else the in-memory rows of this invocation
    metrics = ckpt.load_metrics() if ckpt.dir else ckpt.metrics
    return PageRankResult(ranks=run.state.select("id", "rank"),
                          iterations=run.rounds, converged=run.converged,
                          l1_diff=float(run.stats.get("l1", math.inf)),
                          metrics=metrics)
