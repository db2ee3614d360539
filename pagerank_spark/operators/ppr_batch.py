"""Batch personalized PageRank: many teleport vectors in one loop.

A web index answers "related pages / topic scores" with one personalized
PageRank PER topic or seed set (Haveliwala, "Topic-sensitive PageRank",
WWW 2002). Running k separate power iterations costs k× the scheduling,
k× the edge-table scans, and k× the superstep barriers. This operator
carries ALL k rank vectors as one DataFrame keyed ``(sid, id)`` and runs
ONE superstep for the whole batch: the gather is a single edges⋈state
equi-join on the vertex key (the J1 shape — its output is k·E rows, the
same total work as k runs, but in one stage against one cached edge
layout), the per-destination sum is one hash aggregate keyed (sid, dst),
and the per-sid dangling masses come back as a k-row broadcast table
instead of k driver round-trips. Scheduling overhead and edge-cache
traffic amortize across the batch — the reason batch PPR is the standard
formulation at crawl scale.

Semantics per sid (identical to ``pagerank(teleport=...)``):
    r' = alpha·(Aᵀ r) + (alpha·dangling_mass + (1 - alpha)) · p
with p the sid's teleport vector (Σ p = 1 within each sid) and dangling
mass re-injected proportionally to p. Fixed iteration budget (the batch
use case scores a fleet of topics to a fixed depth; per-sid early exit
would desynchronize the shared superstep).

Scale notes: state is k·V rows — the operator's inherent footprint; the
aggregate key (sid, dst) SPREADS each hot destination over k reducer keys,
so per-key skew is never worse than the single-run case. localCheckpoint
per superstep truncates lineage exactly like the main loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import LinkGraph
from pagerank_spark.operators.pagerank import ALPHA_DEFAULT
from pagerank_spark.plans.fixpoint import release


def personalized_pagerank_batch(
    graph: LinkGraph,
    seed_sets: DataFrame,
    alpha: float = ALPHA_DEFAULT,
    iterations: int = 3,
) -> DataFrame:
    """(sid, id, rank) after ``iterations`` supersteps for every seed set.

    ``seed_sets``: (sid, id, p) — per-sid teleport vectors. Seeds outside
    the graph's vertex universe are dropped and each sid's surviving p is
    renormalized to Σ=1 (the trust_teleport discipline: otherwise the lost
    mass would decay that sid's whole vector every superstep)."""
    verts = graph.vertices.select("id", "is_dangling")
    sp = (seed_sets.select("sid", "id", "p")
          .join(verts.select("id"), "id", "leftsemi"))
    # validate EVERY input sid before renormalizing (mirrors pagerank()'s
    # init_ranks guard): a sid whose surviving p sums to <= 0 / NaN / inf
    # would silently emit NULL ranks via the /tp division, and a sid whose
    # seeds all miss the vertex universe would silently vanish from the
    # output. The audit is one job over the (small, k-row) per-sid sums.
    audit = (seed_sets.select("sid").distinct()
             .join(sp.groupBy("sid").agg(F.sum("p").alias("tp")),
                   "sid", "left"))
    bad = [r["sid"] for r in audit.filter(
        F.col("tp").isNull() | F.isnan("tp")
        | (F.col("tp") <= 0) | (F.col("tp") == float("inf"))).collect()]
    if bad:
        raise ValueError(
            "degenerate seed sets (no in-universe seeds, or teleport mass "
            f"not finite and > 0) for sids: {sorted(bad)[:20]}")
    tot = sp.groupBy("sid").agg(F.sum("p").alias("tp"))
    teleport = (sp.join(tot, "sid")
                .select("sid", "id", (F.col("p") / F.col("tp")).alias("p"))
                .localCheckpoint(eager=True))
    sids = teleport.select("sid").distinct()

    # state: every (sid, vertex) pair; p attached once (0 off the seed set)
    state = (sids.crossJoin(verts)
             .join(teleport, ["sid", "id"], "left")
             .select("sid", "id", "is_dangling",
                     F.coalesce("p", F.lit(0.0)).alias("p"))
             .withColumn("rank", F.lit(1.0 / graph.n_vertices))
             .localCheckpoint(eager=True))

    edges = graph.edges.select("src", "dst", "w")
    for _ in range(iterations):
        contribs = (
            state.join(edges, state.id == edges.src)
            .groupBy("sid", "dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("c"))
            .withColumnRenamed("dst", "id")
        )
        mass = (state.filter("is_dangling")
                .groupBy("sid").agg(F.sum("rank").alias("m")))
        nxt = (
            state.join(contribs, ["sid", "id"], "left")
            .join(F.broadcast(mass), "sid", "left")
            .select(
                "sid", "id", "is_dangling", "p",
                (F.lit(alpha) * F.coalesce("c", F.lit(0.0))
                 + (F.lit(alpha) * F.coalesce("m", F.lit(0.0))
                    + F.lit(1.0 - alpha)) * F.col("p")).alias("rank"))
            .localCheckpoint(eager=True)
        )
        release(state)
        state = nxt
    return state.select("sid", "id", "rank")
