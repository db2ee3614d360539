"""Strongly connected components of the directed link graph.

Absent from the reference (it computes PageRank only; SURVEY.md §2.9) but
core to link-graph analytics: the web's bowtie decomposition (Broder et
al., "Graph structure in the Web", WWW 2000) is defined by the giant SCC.

Algorithm: iterative min-label peeling (the label-propagation member of
the FW-BW family — Slota/Rajamanickam/Madduri, "BFS and Coloring-Based
Parallel Algorithms for Strongly Connected Components", IPDPS 2014):

  repeat on the active subgraph:
    1. trim    — vertices with zero in- or zero out-degree are singleton
                 SCCs (labelled by their own id, like every vertex no
                 settle step labels); peel them, LOOPING the cheap trim
                 to its own fixpoint so DAG regions dissolve layer by
                 layer before any expensive fixpoint runs (FW-BW-Trim).
    2. fwd     — hash-min fixpoint along edges: f(v) = min id of any
                 vertex that reaches v (including v).
    3. bwd     — hash-min fixpoint against edges: b(v) = min id v reaches.
    4. settle  — f(v) == b(v) == r means r reaches v and v reaches r, so
                 v ∈ SCC(r); assign scc(v) = f(v), remove all settled
                 vertices and their edges.

Every round settles at least the SCC of the smallest active id (and in
practice many in parallel), so termination is guaranteed; on bowtie-shaped
web graphs the giant SCC plus the IN/OUT tendrils settle in the first
couple of rounds. Each hash-min fixpoint runs on ``plans.fixpoint``; a
round is one edges⋈labels join and one min-aggregate — exactly the J1/A2
shuffle shape the engine already optimizes — and it runs O(condensation
diameter) rounds. Worst case (a long directed path of descending ids)
degrades to O(V) outer rounds; that is a known property of this family
and irrelevant at bowtie topology, which is the 10^12-scale target.
Convergence signals (changed counts, active edge count) ride each
materialization as observed metrics — one job per round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import fixpoint, release


@dataclass
class SCCResult:
    labels: DataFrame          # (id long, scc long) — scc = min id in the SCC
    rounds: int                # outer peel rounds
    converged: bool            # False => labels of still-active vertices are
                               # NOT final (outer rounds or an inner hash-min
                               # fixpoint ran out of budget) — do not consume


def _minlabel_fixpoint(edges: DataFrame, verts: DataFrame, key: str,
                       max_rounds: int) -> tuple[DataFrame, bool]:
    """Hash-min to fixpoint: label(v) = min id over {v} ∪ {u : u ~> v}
    where ~> follows ``key``='dst' edges forward (ancestors) or
    ``key``='src' edges backward (descendants). Returns ``(labels (id,
    label, moved), at_fixpoint)`` — ``at_fixpoint`` is False when
    ``max_rounds`` ran out with labels still changing, i.e. the table is a
    TRUNCATED reachability min, NOT a fixpoint, and must not be settled on
    (a cycle longer than max_rounds would otherwise peel partial SCCs).

    Evaluated-and-rejected acceleration: a pointer-jump shortcut
    label(v) <- min(label(v), label(label(v))) (the doubling trick of
    undirected CC's star operations) is semantically valid here and cut
    30 -> 20 total inner rounds (~30% wall) on the 600k-edge bench
    graph, but it only compresses when labels form CHAINS (label(v)≠v
    pointing at an already-improved vertex). In the against-edge
    direction of an ascending-id path/cycle, gather improves exactly one
    frontier vertex per round and every other label is still its own id,
    so the jump buys nothing there while adding an O(V) self-join per
    round — and in-situ it exhibited super-linear per-round wall growth
    on small fixtures. Directed reachability min-label has no safe
    analogue of large-star; the plain gather is O(condensation diameter)
    and is kept (the same trade the reference makes by iterating SpMV
    rather than building reachability closures)."""
    other = "src" if key == "dst" else "dst"

    def step(lab: DataFrame, _prev) -> DataFrame:
        gathered = (
            edges.join(lab.select(F.col("id").alias(other), "label"), other)
            .groupBy(F.col(key).alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = F.least("label", F.coalesce("nlabel", "label"))
        return (lab.join(gathered, "id", "left")
                .select("id", new.alias("label"),
                        (new != F.col("label")).alias("moved")))

    # labels are monotone non-increasing, so no move is a true fixpoint
    run = fixpoint(verts.select("id", F.col("id").alias("label")), step,
                   [F.sum(F.col("moved").cast("int")).alias("changed")],
                   lambda stats, _prev: not stats["changed"], max_rounds)
    return run.state, run.converged


def strongly_connected_components(
    edges: DataFrame,
    universe: DataFrame | None = None,
    max_rounds: int = 50,
    max_inner_rounds: int = 100,
) -> SCCResult:
    """SCC label (= min vertex id in the SCC) per vertex.

    ``universe``: optional (id) DataFrame of all vertices; vertices with
    no surviving directed edges are singleton SCCs labelled by their id.
    """
    spark = edges.sparkSession
    e = (edges.select("src", "dst")
         .filter(F.col("src") != F.col("dst")).distinct()
         .localCheckpoint(eager=True))
    members = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id")))
    if universe is not None:
        members = members.unionAll(universe.select("id"))
    verts = members.distinct().localCheckpoint(eager=True)

    # multi-vertex SCCs only: a vertex absent from it is its own SCC
    settled = spark.createDataFrame([], "id long, scc long")
    active_v, active_e = verts, e
    rounds, converged = 0, False
    # active-vertex count at entry to the current round's trim loop; the
    # first round pays one count job, later rounds get it for free from an
    # observation riding the settle step's checkpoint (keeping it stale
    # across rounds guaranteed one extra no-op trim pass per outer round:
    # the settle shrank active_v, so the first trim pass could never match)
    prev_nv = verts.count()
    for rounds in range(1, max_rounds + 1):
        # 1. trim TO FIXPOINT (FW-BW-Trim, Slota et al. 2014): each pass
        # drops vertices with no in- or no out-edges (singleton SCCs).
        # Looping the CHEAP trim until nothing moves dissolves any DAG
        # region layer by layer BEFORE the expensive min-label fixpoints
        # run — without it, a sparse DAG-heavy graph pays a full
        # forward+backward fixpoint per peeled layer (measured: a
        # 40-vertex random DAG-ish graph went from >10 min of outer
        # rounds to seconds).
        no_edges = False
        while True:
            outs = active_e.select(F.col("src").alias("id")).distinct()
            ins = active_e.select(F.col("dst").alias("id")).distinct()
            both = outs.join(ins, "id")                  # has in AND out
            obs_v = Observation(f"scc_verts_{rounds}_{prev_nv}")
            new_v = (active_v.join(both, "id")
                     .observe(obs_v, F.count(F.lit(1)).alias("n"))
                     .localCheckpoint(eager=True))
            obs = Observation(f"scc_edges_{rounds}_{prev_nv}")
            new_e = (
                active_e.join(new_v.select(F.col("id").alias("src")), "src")
                .join(new_v.select(F.col("id").alias("dst")), "dst")
                .select("src", "dst")
                .observe(obs, F.count(F.lit(1)).alias("m"))
                .localCheckpoint(eager=True)
            )
            m = int(obs.get["m"] or 0)
            nv = int(obs_v.get["n"] or 0)
            if active_v is not verts:
                release(active_v)
            release(active_e)
            active_v, active_e = new_v, new_e
            if m == 0:
                no_edges = True
                break
            if nv == prev_nv:      # trim fixpoint: every vertex has in+out
                break
            prev_nv = nv
        if no_edges:
            # remaining active vertices (if any) are isolated post-trim
            converged = True
            break

        # 2+3. forward / backward min-label fixpoints on the active core.
        # The two fixpoints read the same (checkpointed) inputs and share
        # nothing else, so their job DAGs are submitted from two threads
        # and the scheduler interleaves them — each fixpoint's shuffle
        # waves fill the slots the other leaves idle between rounds
        # (measured 20s -> 14s on the 600k-edge bench graph; on a real
        # cluster this halves the per-outer-round scheduling critical
        # path). Futures propagate worker exceptions on .result().
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fut = pool.submit(_minlabel_fixpoint, active_e, active_v,
                                "dst", max_inner_rounds)
            b_fut = pool.submit(_minlabel_fixpoint, active_e, active_v,
                                "src", max_inner_rounds)
            (fwd, f_ok), (bwd, b_ok) = f_fut.result(), b_fut.result()

        if not (f_ok and b_ok):
            # max_inner_rounds exhausted with labels still moving: the
            # tables are truncated reachability minima, and settling on
            # f==b there peels PARTIAL SCCs (e.g. a cycle longer than
            # max_inner_rounds: its min-id vertex already has f==b==id
            # while the far side does not — settling would break the
            # cycle and mislabel the rest). No settle can happen this
            # round and the active subgraph is unchanged, so re-running
            # the outer loop would just repeat the truncation — surface
            # converged=False so callers can't consume wrong labels.
            release(fwd)
            release(bwd)
            converged = False
            break

        # 4. settle f==b; peel
        pair = fwd.join(bwd.select("id", F.col("label").alias("blabel")), "id")
        done = pair.filter(F.col("label") == F.col("blabel")) \
                   .select("id", F.col("label").alias("scc"))
        old_settled = settled
        settled = settled.unionAll(done).localCheckpoint(eager=True)
        obs_r = Observation(f"scc_remaining_{rounds}")
        remaining = (pair.filter(F.col("label") != F.col("blabel"))
                     .select("id")
                     .observe(obs_r, F.count(F.lit(1)).alias("n"))
                     .localCheckpoint(eager=True))
        for df in (old_settled, active_v, fwd, bwd):
            release(df)
        active_v = remaining
        # reset the trim-fixpoint comparison to the post-settle count so
        # next round's first trim pass can detect an immediate fixpoint
        prev_nv = int(obs_r.get["n"] or 0)

    if active_v is not verts:
        release(active_v)
    release(active_e)
    labels = verts.join(settled.withColumnRenamed("scc", "s"), "id", "left") \
                  .select("id", F.coalesce("s", F.col("id")).alias("scc"))
    return SCCResult(labels=labels, rounds=rounds, converged=converged)
