"""HITS (hubs & authorities): synchronous power iterations over the link graph.

Absent from the reference (SURVEY.md §2.9 covers only PageRank-family
centrality); added as the natural companion centrality for a link-graph
engine — the same gather/scatter shape as the reference's SpMV hot loop
(/root/reference/kernel_bblock.cu:337: per-dst gather of per-src state), run
twice per iteration (once along edges, once against them).

Semantics (deterministic, SQL-expressible so the DuckDB oracle can unroll
it exactly):

  hub_0(u) = 1 for every vertex
  per iteration t:
    auth_t(v)  = Σ_{(u,v) ∈ E} hub_{t-1}(u)   then L1-normalize (Σ auth = 1)
    hub_t(u)   = Σ_{(u,v) ∈ E} auth_t(v)      then L1-normalize (Σ hub = 1)

L1 (not the textbook L2) normalization is chosen deliberately: it keeps the
fixed-iteration trajectory free of sqrt so both engines compute bit-nearly
identical doubles (fp sum-order noise ~1e-15, twelve orders below the
6-decimal comparison grid), and any p-norm yields the same ranking.
Duplicate edges add weight, matching the engine's one-line-per-edge
convention (/root/reference/kernel_bblock.cu:601-618).

Scale shape: per iteration two join+aggregate passes over the O(E) edge
table — the edge table is the build-time cached, src-partitioned DataFrame,
so the hub gather reuses its layout; only O(V) score state moves. The L1
total rides each aggregate as a broadcast 1-row join (no driver sync, no
collect in the loop).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import release


@dataclass
class HitsResult:
    scores: DataFrame     # (id long, hub double, authority double)
    iterations: int


def _l1_normalized(scores: DataFrame, col: str) -> tuple[DataFrame, DataFrame]:
    """Checkpoint the raw sums, then divide ``col`` by the global L1 total
    via a broadcast 1-row join. Materializing FIRST matters: the total and
    the output both consume the aggregate, and without the checkpoint the
    upstream edge-gather would run twice per half-iteration (once for the
    scalar, once for the vector). The normalized view stays a lazy O(V)
    projection over the pinned blocks — still no driver sync. Returns
    (normalized view, pinned raw) so the caller can release the blocks."""
    raw = scores.localCheckpoint(eager=True)
    total = raw.agg(F.sum(F.abs(col)).alias("_t"))
    norm = (
        raw.crossJoin(F.broadcast(total))
        .select(*[c for c in raw.columns if c != col],
                (F.col(col) / F.col("_t")).alias(col))
    )
    return norm, raw


def _vertex_universe(ew: DataFrame, universe: DataFrame | None) -> DataFrame:
    vertices = (
        ew.select(F.col("src").alias("id"))
        .unionAll(ew.select(F.col("dst").alias("id")))
        .distinct()
    )
    if universe is not None:
        vertices = vertices.unionAll(universe.select("id")).distinct()
    return vertices.localCheckpoint(eager=True)


def _power_scores(ew: DataFrame, vertices: DataFrame, iterations: int,
                  fwd, bwd) -> DataFrame:
    """The shared HITS/SALSA loop: per iteration one gather each way over
    the pinned edge projection, each L1-normalized. ``fwd``/``bwd`` build
    the summed column from the joined frame (HITS: the score itself;
    SALSA: score × degree weight)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    hub = vertices.select("id", F.lit(1.0).alias("hub"))
    auth = None
    auth_raw = hub_raw = None
    for _ in range(iterations):
        # authority gather: along edge direction (per-dst sum over src hubs)
        gathered = (
            ew.join(hub.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(fwd).alias("authority"))
        )
        auth, new_auth_raw = _l1_normalized(gathered, "authority")
        if auth_raw is not None:
            release(auth_raw)
        auth_raw = new_auth_raw
        # hub gather: against edge direction (per-src sum over dst auths)
        gathered = (
            ew.join(auth.select(F.col("id").alias("dst"), "authority"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(bwd).alias("hub"))
        )
        hub, new_hub_raw = _l1_normalized(gathered, "hub")
        if hub_raw is not None:
            release(hub_raw)
        hub_raw = new_hub_raw

    return (
        vertices.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def hits(
    edges: DataFrame,
    universe: DataFrame | None = None,
    iterations: int = 3,
) -> HitsResult:
    """Hub/authority scores after ``iterations`` synchronous updates.

    ``edges``: (src, dst) directed, duplicates meaningful.
    ``universe``: optional (id) DataFrame — vertices absent from the edge
    list get hub = authority = 0 after normalization of the first round
    (they receive and emit nothing) but stay in the output.
    """
    # the edge table is read 2x per iteration (one gather each way): pin it
    # once instead of re-scanning the source 2·iterations times
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    vertices = _vertex_universe(edges, universe)
    scores = _power_scores(edges, vertices, iterations,
                           fwd=F.col("hub"), bwd=F.col("authority"))
    return HitsResult(scores=scores, iterations=iterations)


def salsa(
    edges: DataFrame,
    universe: DataFrame | None = None,
    iterations: int = 3,
) -> HitsResult:
    """SALSA (Lempel & Moran, "The stochastic approach for link-structure
    analysis", WWW 2001): HITS with both gathers degree-normalized — the
    authority chain is the stationary walk that steps backward along a
    link then forward along another, so scores are popularity weighted by
    local link density rather than raw fan-in.

      auth_t(v) = Σ_{(u,v) ∈ E} hub_{t-1}(u) / out_deg(u)   then L1-norm
      hub_t(u)  = Σ_{(u,v) ∈ E} auth_t(v)  / in_deg(v)      then L1-norm

    The explicit L1 normalization (a no-op on a loss-free walk, but
    dangling hubs leak mass) keeps the trajectory identical in both
    engines, exactly as in :func:`hits`. Scale shape is the same two
    edge-gathers per iteration; the degree weights are joined ONCE into a
    pinned weighted edge table, not recomputed per round.
    """
    e = edges.select("src", "dst")
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("oc"))
    idg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ic"))
    ew = (
        e.join(od.hint("shuffle_hash"), "src")
        .join(idg.hint("shuffle_hash"), "dst")
        .select("src", "dst",
                (F.lit(1.0) / F.col("oc")).alias("wf"),
                (F.lit(1.0) / F.col("ic")).alias("wb"))
        .localCheckpoint(eager=True)
    )
    vertices = _vertex_universe(ew, universe)
    scores = _power_scores(ew, vertices, iterations,
                           fwd=F.col("hub") * F.col("wf"),
                           bwd=F.col("authority") * F.col("wb"))
    return HitsResult(scores=scores, iterations=iterations)
