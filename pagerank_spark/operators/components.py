"""Connected components: alternating large-star / small-star (hash-min).

Absent from the reference (SURVEY.md §2.9); mandated by the north rule.
Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14) — alternating star operations converge in O(log^2 n) rounds on
any graph (empirically ~log n). This is the scalable choice at 10^12
edges: no O(diameter) propagation, no driver-side state beyond a
convergence scalar.

  large-star: for each vertex u and its neighborhood N(u) (both directions),
              m = min({u} ∪ N(u)); emit (v, m) for v ∈ N(u), v > u
  small-star: key every edge by its larger endpoint: (u = max, v = min);
              m = min(N(u)); emit (u, m) and (v, m) for v ∈ N(u), v ≠ m

Round shape: each star's min is a window keyed by the vertex, one
exchange of the edge rows and no aggregate joined back; the small star's
min ignores the large star's repeated rows and its one distinct drops
them. Scale trade: a window holds one vertex's rows in a spillable buffer
inside ONE task, which AQE cannot split like a skewed join; salt a hub's
rows if one ever dominates a round.

Convergence: the edge multiset stops changing. We detect it with
(count, sum of xxhash64(src,dst)) collected as OBSERVED metrics on each
round's own materialization — zero extra jobs; a false stop needs a 64-bit
hash-sum collision on same-count sets (~2^-64, documented trade against a
full exceptAll anti-join per round).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges
from pagerank_spark.plans.fixpoint import fixpoint, pin, resume_point


@dataclass
class ComponentsResult:
    labels: DataFrame          # (id long, component long) — component = min id
    rounds: int
    converged: bool


def _large_star(edges: DataFrame) -> DataFrame:
    # m = min of u's symmetric neighborhood and u itself
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return sym.select("src", "dst", m.alias("m")).filter(
        F.col("dst") > F.col("src")).select(F.col("dst").alias("src"),
                                            F.col("m").alias("dst"))


def _small_star(edges: DataFrame) -> DataFrame:
    # key by larger endpoint u; m = min of its smaller neighbors v. Every
    # row emits (u, m) and, unless v is m, (v, m)
    keyed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
    star = keyed.select(
        "u", "v", F.min("v").over(Window.partitionBy("u")).alias("m")
    ).select(F.explode(F.array("u", "v")).alias("src"), F.col("m").alias("dst"))
    return star.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    universe: DataFrame | None = None,
    max_rounds: int = 50,
    checkpointer=None,
    resume: bool = False,
    prior_labels: DataFrame | None = None,
) -> ComponentsResult:
    """Component label (= min vertex id in the component) per vertex.

    ``universe``: optional (id) DataFrame of all vertices — isolated ones
    get their own id as label, matching the union-find oracle exactly.

    ``prior_labels``: optional (id, component) frame from a previous run —
    the incremental-recompute warm start for a crawl DELTA that only ADDS
    edges (the same role ``init_ranks`` plays for ``pagerank()``). Each
    prior component collapses to a star edge (id, component) folded into
    the input, so already-merged structure contracts in round 1 instead of
    being re-derived; extra edges can only merge components further, never
    split them, so the fixpoint is identical to a cold run on the full
    edge set. NOT valid if the delta REMOVES edges — removal can split a
    component, which a label edge would incorrectly hold together.

    ``checkpointer``: optional dir-backed
    :class:`~pagerank_spark.plans.checkpoint.SuperstepCheckpointer` — each
    round's contracted edge state commits to parquet with a metrics row
    (edge count, state hash, wall ms, per-partition lineage), and
    ``resume=True`` continues a killed run from the last committed round
    (the same superstep-resume contract as ``pagerank()``; the round state
    IS the star-contracted edge multiset, so nothing else needs saving).
    ``checkpointer=None`` keeps the in-memory ``localCheckpoint`` path.
    """
    start_round, cur = resume_point(checkpointer, resume)
    if cur is None:
        base = edges
        if prior_labels is not None:
            base = edges.select("src", "dst").unionAll(
                prior_labels.select(F.col("id").alias("src"),
                                    F.col("component").alias("dst")))
        cur = simple_edges(base).select(F.col("a").alias("src"),
                                        F.col("b").alias("dst"))
    # the round state's signature: edge count and the decimal(38,0) sum of
    # xxhash64(src, dst) (no overflow under ANSI mode at any realistic
    # count; a string in the metrics row). It is a deterministic function of
    # the edge multiset, so taking it again on a resumed state reproduces
    # what the killed run saw
    signature = [F.count(F.lit(1)).alias("n_edges"),
                 F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
                 .cast("string").alias("state_hash")]
    cur, sig = pin(cur, *signature)
    run = fixpoint(cur, lambda cur, _: _small_star(_large_star(cur)),
                   signature, lambda sig, prev: sig == prev, max_rounds,
                   checkpointer=checkpointer, start=start_round, stats=sig)
    cur, rounds = run.state, run.rounds

    # final star edges: (child -> root). canonicalize (larger endpoint is child)
    child_root = cur.select(
        F.greatest("src", "dst").alias("id"), F.least("src", "dst").alias("component")
    ).groupBy("id").agg(F.min("component").alias("component"))

    members = edges.select(F.col("src").alias("id")).unionAll(
        edges.select(F.col("dst").alias("id"))
    )
    if prior_labels is not None:
        # a prior vertex kept alive only by `universe` in the previous run
        # must stay in the output even if the new edge set never names it
        members = members.unionAll(prior_labels.select("id")).unionAll(
            prior_labels.select(F.col("component").alias("id")))
    if universe is not None:
        members = members.unionAll(universe.select("id"))
    labels = (
        members.distinct()
        .join(child_root, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return ComponentsResult(labels=labels, rounds=rounds, converged=run.converged)
