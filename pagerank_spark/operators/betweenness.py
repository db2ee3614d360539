"""Sampled (truncated) betweenness centrality — multi-source Brandes.

Brandes, "A faster algorithm for betweenness centrality" (J. Math. Soc.
2001): bc(v) = Σ_s δ_s(v) with the pair dependencies δ accumulated
backward over the shortest-path DAG. Exact betweenness needs every source;
at web scale the standard estimator samples k sources (Brandes & Pich,
"Centrality estimation in large networks", Int. J. Bifurcation Chaos 2007)
and truncates the BFS at a hop budget (k-betweenness) — both knobs here.

Dataflow (all sources advance TOGETHER — state is keyed by (s, v), so the
round count is the truncation depth, not depth × sources):

  forward, per hop t: frontier ⋈ edges → per-(s, v) σ sums (the
    path-count aggregation gets map-side partials), anti-join against the
    visited set — the multi-source generalization of operators/bfs.py;
  backward, per hop t = D-1..1: level-t state ⋈ edges ⋈ level-t+1
    (σ, δ) → δ(v) = Σ σ_v/σ_w · (1 + δ_w) — one join pass per hop along
    the same cached edge projection.

σ path counts are exact BIGINTs (truncation bounds them: σ ≤ d_avg^depth);
δ and bc are the only doubles, produced by a final fixed-shape sum, so the
whole computation is reproducible in the unrolled SQL oracle
(__spark_entry__.py). Sources default to the k smallest vertex ids —
deterministic and oracle-expressible; pass an explicit sample for
production estimates (hash-picked, stratified, ...).

Per-hop state is O(k·V) rows; every round materializes via localCheckpoint
(lineage truncation, the K6 double-buffer discipline) and the backward pass
re-reads the pinned forward levels — no recomputation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import release


@dataclass
class BetweennessResult:
    scores: DataFrame      # (id long, bc double) — every vertex, 0.0 default
    depth: int             # deepest BFS level actually reached
    n_sources: int


def betweenness(
    edges: DataFrame,
    k_sources: int = 8,
    max_depth: int = 8,
    sources: DataFrame | None = None,
) -> BetweennessResult:
    """Truncated sampled betweenness over the directed simple graph.

    Parallel edges are collapsed (path counting is per distinct edge).
    ``sources``: optional (id) DataFrame; default = ``k_sources`` smallest
    vertex ids.
    """
    e = (edges.filter(F.col("src") != F.col("dst"))
         .select("src", "dst").distinct().localCheckpoint(eager=True))
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct().localCheckpoint(eager=True))
    if sources is None:
        sources = verts.orderBy("id").limit(k_sources)
    srcs = sources.select("id").distinct()
    n_sources = srcs.count()

    lvl0 = srcs.select(F.col("id").alias("s"), F.col("id").alias("v"),
                       F.lit(1).cast("long").alias("sigma")) \
               .localCheckpoint(eager=True)
    levels = [lvl0]
    seen = lvl0.select("s", "v").localCheckpoint(eager=True)
    depth = 0
    for t in range(1, max_depth + 1):
        frontier = levels[-1]
        nxt = (
            frontier.join(e.hint("shuffle_hash"),
                          frontier.v == e.src)
            .groupBy("s", F.col("dst").alias("nv"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("nv", "v")
            .join(seen, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            release(nxt)
            break
        depth = t
        levels.append(nxt)
        new_seen = seen.unionByName(nxt.select("s", "v")) \
                       .localCheckpoint(eager=True)
        release(seen)
        seen = new_seen

    # backward accumulation: δ over levels depth-1 .. 1
    deltas = []
    delta_next: DataFrame | None = None     # δ of level t+1
    for t in range(depth - 1, 0, -1):
        lv = levels[t]
        lw = levels[t + 1].select(
            F.col("s").alias("ws"), F.col("v").alias("w"),
            F.col("sigma").alias("sigma_w"))
        if delta_next is not None:
            lw = lw.join(
                delta_next.select(F.col("s").alias("ws"),
                                  F.col("v").alias("w"), "delta"),
                ["ws", "w"], "left")
        else:
            lw = lw.withColumn("delta", F.lit(0.0))
        d = (
            lv.join(e.hint("shuffle_hash"), lv.v == e.src)
            .join(lw, (F.col("s") == F.col("ws")) & (F.col("dst") == F.col("w")))
            .groupBy("s", "v")
            .agg(F.sum(
                (F.col("sigma").cast("double") / F.col("sigma_w"))
                * (F.lit(1.0) + F.coalesce(F.col("delta"), F.lit(0.0)))
            ).alias("delta"))
            .localCheckpoint(eager=True)
        )
        deltas.append(d)
        delta_next = d
        # level t+1 was consumed into d (eager checkpoint) and the
        # backward walk only descends — release its cached blocks now
        # instead of pinning every forward level until the pass ends
        release(levels[t + 1])
    # the scores read only verts and the deltas
    for df in (e, seen, *levels[:2]):
        release(df)

    if deltas:
        allv = deltas[0]
        for d in deltas[1:]:
            allv = allv.unionByName(d)
        bc = allv.groupBy("v").agg(F.sum("delta").alias("bc"))
        scores = (verts.join(bc.withColumnRenamed("v", "id"), "id", "left")
                  .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc")))
    else:
        scores = verts.select("id", F.lit(0.0).alias("bc"))
    return BetweennessResult(scores=scores, depth=depth, n_sources=n_sources)
