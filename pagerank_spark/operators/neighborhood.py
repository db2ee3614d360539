"""Neighborhood function, effective diameter, mean distance, and the
harmonic and closeness centralities built on the same ball growth.

Absent from the reference (it computes PageRank only; SURVEY.md §2.9) but a
canonical link-graph analytic: N(t) = #{(u,v) : dist(u,v) <= t} counted
over directed paths, from which the effective diameter (smallest t with
N(t) >= alpha * N(inf), Boldi-Vigna-style interpolated) and the mean
finite-pair distance follow.

Every function here grows the balls ball(v, t+1) = ball(v, t) ∪
⋃_{(v,w)∈E} ball(w, t) hop by hop, one round of ``plans.fixpoint`` per
hop, in one of two loops:

* ``_first_reach`` — exact. The state is one table (id, r, t): r was first
  reached from id at hop t. A hop joins the edges against the last hop's
  rows only (a pair first reached at hop t+1 comes from a pair first
  reached at hop t) and folds the new pairs into the table with one
  (id, r)-keyed min(t) aggregate, which drops repeats and keeps each
  pair's first hop. The row count is N(t); the loop stops when it does
  not move. O(V·V) state worst case: the small-scale truth used by tests
  and the DuckDB oracle queries. ``neighborhood_function_exact``
  reads the counts, ``harmonic_centrality_exact`` sums lcm/t per id and
  ``closeness_centrality_exact`` counts and sums t per id.
* ``_hyperanf`` — HyperANF (Boldi, Rosa, Vigna, "HyperANF: approximating
  the neighbourhood function of very large graphs on a budget", WWW
  2011): each vertex carries a HyperLogLog sketch of its ball, a fixed
  array of m = 2^b byte-sized registers, and the hop union becomes an
  elementwise register max. State is O(V·m) and each hop is one
  edges⋈sketches join + per-register max aggregate — the J1/A2 shuffle
  shape the engine already optimizes, so this is the 10^12-edge path. The
  three ``_hll`` functions differ only in the running per-vertex columns
  they carry and how each one grows from the hop's ball growth.

HLL details (all JVM-side, no Python in the loop):
  register index j = low b bits of xxhash64(id); rho = (#trailing zeros of
  the remaining 64-b bits) + 1 — computed exactly as log2(w & -w) + 1
  (w & -w is a power of two, so the double log2 is exact). The estimator
  is standard HLL with the small-range linear-counting correction; the
  64-bit hash makes large-range correction unnecessary. Per-round sums of
  the per-vertex estimates and of all registers ride the materialization
  as observed metrics — one Spark job per hop. The register sum is a
  monotone non-decreasing integer, so an unchanged sum is an exact
  saturation fixpoint and termination needs no tolerance; ``rel_tol``
  just stops earlier once N(t) plateaus. Self-loops added to the edge
  set fold each vertex's own ball into the gather join, so a hop is one
  join + one aggregate with the sketch table referenced exactly once (no
  merge-back outer join — which also sidesteps a Spark 4.1 analyzer bug
  that mis-binds a pushed join-key filter when the sketch relation
  appears twice under USING-join dedup). The running columns ride the
  same self-loop row and are picked out of the aggregate with a keyed
  MAX; all per-vertex arithmetic is per-row, so results are deterministic
  across partitionings.

Scale note: the sketch join moves O(E·m) bytes per hop — b trades accuracy
(rel. std. err. ~1.04/sqrt(2^b)) against shuffle volume. The per-register
max aggregate gets map-side partial aggregation and whole-stage codegen
(m plain MAX columns, no UDF); skew follows the out-degree head, the same
profile as the PageRank contribution aggregate (AQE skew handling applies).
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.hll import _alpha
from pagerank_spark.plans.fixpoint import Stats, fixpoint, pin, release


@dataclass
class NeighborhoodResult:
    nf: DataFrame          # (t int, n_pairs) — cumulative pairs within t hops
    counts: list[float]    # counts[t] = N(t), t = 0..rounds
    rounds: int
    converged: bool


@dataclass
class HarmonicResult:
    scores: DataFrame      # exact: (id, hc_num long, hc double); hll: (id, hc double)
    rounds: int
    converged: bool


@dataclass
class ClosenessResult:
    # exact: (id, n_reached long, dist_sum long, closeness double)
    # hll:   (id, n_reached_est, dist_sum_est, closeness double)
    scores: DataFrame
    rounds: int
    converged: bool


@dataclass
class _Growth:
    state: DataFrame       # the final ball table (pinned)
    counts: list[float]    # counts[t] = N(t), t = 0..rounds
    n_vertices: int
    rounds: int
    converged: bool


def _simple(edges: DataFrame) -> DataFrame:
    return (edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst")).distinct())


def _verts(e: DataFrame, universe: DataFrame | None) -> DataFrame:
    members = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id")))
    if universe is not None:
        members = members.unionAll(universe.select("id"))
    return members.distinct()


def _directed(edges: DataFrame, direction: str) -> DataFrame:
    """Ball direction: 'in' computes hc(v) = Σ 1/d(u,v) (classic harmonic
    centrality — balls grow over reversed edges); 'out' uses d(v,u)."""
    e = _simple(edges)
    if direction == "in":
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == "out":
        return e
    raise ValueError(f"direction must be 'in' or 'out', got {direction!r}")


def _grow(state: DataFrame, stats: Stats, n_vertices: int,
          step: Callable[[DataFrame, Stats], DataFrame], metrics: list[Column],
          max_t: int, saturated: Callable[[Stats, Stats], bool],
          plateau: Callable[[Stats, Stats], bool] | None = None) -> _Growth:
    """Run the hops of either loop; ``metrics`` observe the ball-size sum
    ``n`` each hop. A saturated hop moved nothing, so it is not counted:
    N(t) was already flat at the hop before. With no vertices the
    sketch sums are NULL: N(t) is 0, as the exact row count says."""
    counts, flat = [float(stats["n"] or 0)], []

    def stop(stats: Stats, prev: Stats) -> bool:
        if saturated(stats, prev):
            flat.append(True)
            return True
        counts.append(float(stats["n"]))
        return plateau is not None and plateau(stats, prev)

    run = fixpoint(state, step, metrics, stop, max_t, stats=stats)
    return _Growth(state=run.state, counts=counts, n_vertices=n_vertices,
                   rounds=run.rounds - len(flat), converged=run.converged)


def _first_reach(edges: DataFrame, direction: str, max_t: int,
                 universe: DataFrame | None) -> _Growth:
    """Exact balls as the first-reach table (id, r, t), grown to a
    fixpoint or ``max_t`` hops."""
    e = _directed(edges, direction).localCheckpoint(eager=True)
    size = [F.count(F.lit(1)).alias("n"), F.max("t").alias("t")]
    reach, stats = pin(
        _verts(e, universe).select("id", F.col("id").alias("r"),
                                   F.lit(0).alias("t")), *size)

    def step(reach: DataFrame, prev: Stats) -> DataFrame:
        frontier = reach.filter(F.col("t") == F.lit(prev["t"])).select(
            F.col("id").alias("dst"), "r", (F.col("t") + 1).alias("t"))
        hop = e.join(frontier, "dst").select(F.col("src").alias("id"), "r", "t")
        # one aggregate both drops repeats and keeps each pair's first hop
        return (reach.unionAll(hop).groupBy("id", "r")
                .agg(F.min("t").alias("t")))

    grown = _grow(reach, stats, stats["n"], step, size, max_t,
                  lambda stats, prev: stats["n"] == prev["n"])
    release(e)
    return grown


def _estimate_expr(m: int):
    """Per-row HLL estimate of the register array `regs` (standard
    estimator + small-range linear counting)."""
    z = F.aggregate(F.col("regs"), F.lit(0.0),
                    lambda acc, x: acc + F.pow(F.lit(2.0),
                                               -x.cast("double")))
    # NB: no CASE WHEN inside higher-order lambdas — Spark 4.1 mis-binds
    # attributes when such a lambda is later composed with GetArrayItem
    v0 = F.aggregate(F.col("regs"), F.lit(0),
                     lambda acc, x: acc + (x == 0).cast("int"))
    raw = F.lit(_alpha(m) * m * m) / z
    lin = F.lit(float(m)) * F.log(F.lit(float(m)) / v0.cast("double"))
    return F.when((raw <= F.lit(2.5 * m)) & (v0 > 0), lin).otherwise(raw)


# running per-vertex column -> its next value from (itself, the hop's
# non-negative ball growth, the hop number)
Carry = dict[str, Callable[[Column, Column, int], Column]]


def _hyperanf(edges: DataFrame, direction: str, max_t: int, b: int,
              universe: DataFrame | None, rel_tol: float,
              carry: Carry | None = None) -> _Growth:
    """HyperANF ball sketches (id, regs, pest, *carry) grown to register
    saturation, an N(t) plateau within ``rel_tol``, or ``max_t`` hops;
    ``pest`` is the vertex's ball-size estimate, every carried column
    starts at 0.0."""
    if not 4 <= b <= 10:
        raise ValueError(f"b must be in [4, 10], got {b}")
    m = 1 << b
    carry = carry or {}
    e = _directed(edges, direction)
    verts = _verts(e, universe)
    # Self-loops fold each vertex's own ball into the same gather join:
    # ball(v,t+1) = ⋃_{w ∈ N+(v) ∪ {v}} ball(w,t). One join + one aggregate
    # per hop, sketches referenced exactly once — no merge-back outer join.
    e2 = e.unionAll(verts.select(F.col("id").alias("src"),
                                 F.col("id").alias("dst"))) \
          .localCheckpoint(eager=True)

    # init: one element (the vertex itself) per sketch
    h = F.xxhash64(F.col("id"))
    w = F.shiftrightunsigned(h, b)
    rho = F.when(w == 0, F.lit(64 - b + 1)).otherwise(
        (F.log2((w.bitwiseAND(-w)).cast("double")) + 1.0).cast("int"))
    j = h.bitwiseAND(m - 1).cast("int")
    # plain m-element array (no transform lambda — see NB above): register
    # j gets rho, the rest 0
    regs = F.array(*[F.when(F.lit(i) == j, rho).otherwise(0).cast("tinyint")
                     for i in range(m)])
    est = _estimate_expr(m)
    sketch = [
        # the per-vertex estimate is deterministic (fixed in-array fold
        # order); summing through DECIMAL keeps the total independent of
        # partition / combine order, so repeated runs agree bit-for-bit
        F.sum(F.col("pest").cast("decimal(30,8)")).alias("n"),
        F.sum(F.aggregate(F.col("regs"), F.lit(0).cast("long"),
                          lambda acc, x: acc + x)).alias("rsum"),
        F.count(F.lit(1)).alias("v"),
    ]
    sk, stats = pin(
        verts.select("id", regs.alias("regs"))
        .select("id", "regs", est.alias("pest"),
                *[F.lit(0.0).alias(c) for c in carry]), *sketch)

    hops = itertools.count(1)
    self_row = F.col("dst") == F.col("src")
    running = ["pest", *carry]

    def step(sk: DataFrame, _prev: Stats) -> DataFrame:
        hop = next(hops)
        # in the last select, est is the grown ball and pest the old one
        grow = F.greatest(est - F.col("pest"), F.lit(0.0))
        return (
            e2.join(sk.select(F.col("id").alias("dst"), "regs", *running),
                    "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(*[F.max(F.col("regs")[i]).alias(f"_r{i}") for i in range(m)],
                 *[F.max(F.when(self_row, F.col(c))).alias(c) for c in running])
            .select("id", F.array(*[F.col(f"_r{i}") for i in range(m)])
                    .alias("regs"), *running)
            .select("id", "regs", est.alias("pest"),
                    *[nxt(F.col(c), grow, hop).alias(c)
                      for c, nxt in carry.items()])
        )

    def plateau(stats: Stats, prev: Stats) -> bool:
        # registers are monotone, so a NEGATIVE delta is estimator noise
        # (the linear-counting -> raw-estimator crossover can dip), not
        # saturation — require the delta to be non-negative AND small
        n = float(stats["n"])
        return 0.0 <= n - float(prev["n"]) <= rel_tol * n

    grown = _grow(sk, stats, stats["v"], step, sketch, max_t,
                  lambda stats, prev: stats["rsum"] == prev["rsum"], plateau)
    release(e2)
    return grown


def _nf_result(grown: _Growth, n_pairs: str) -> NeighborhoodResult:
    """``n_pairs``: 'long' for exact counts, 'double' for estimates."""
    release(grown.state)
    cast = int if n_pairs == "long" else float
    nf = grown.state.sparkSession.createDataFrame(
        [(t, cast(n)) for t, n in enumerate(grown.counts)],
        f"t int, n_pairs {n_pairs}")
    return NeighborhoodResult(nf=nf, counts=grown.counts,
                              rounds=grown.rounds, converged=grown.converged)


def neighborhood_function_exact(
    edges: DataFrame,
    max_t: int = 32,
    universe: DataFrame | None = None,
) -> NeighborhoodResult:
    """Exact N(t) by materializing every ball as first-reach pairs.

    Truth oracle for the HLL path; usable directly where V is small enough
    that reachable-pair state (<= V^2 rows) is acceptable."""
    return _nf_result(_first_reach(edges, "out", max_t, universe), "long")


def neighborhood_function_hll(
    edges: DataFrame,
    max_t: int = 64,
    b: int = 6,
    universe: DataFrame | None = None,
    rel_tol: float = 1e-4,
) -> NeighborhoodResult:
    """HyperANF: approximate N(t) with per-vertex HyperLogLog ball
    sketches of m = 2^b registers (rel. std. err. ~1.04/sqrt(m))."""
    return _nf_result(
        _hyperanf(edges, "out", max_t, b, universe, rel_tol), "double")


def harmonic_centrality_exact(
    edges: DataFrame,
    max_t: int = 8,
    universe: DataFrame | None = None,
    direction: str = "in",
) -> HarmonicResult:
    """Exact harmonic centrality truncated at ``max_t`` hops.

    Integer-exact: contributions are accumulated as lcm(1..max_t)/t, so
    ``hc_num`` is an order-independent BIGINT (``hc = hc_num / lcm``).
    Truth oracle for the sketch path; O(V^2) pair state worst case."""
    if not 1 <= max_t <= 25:
        raise ValueError("exact mode supports 1 <= max_t <= 25 "
                         "(lcm-scaled integer weights)")
    lcm = math.lcm(*range(1, max_t + 1))
    grown = _first_reach(edges, direction, max_t, universe)
    hc_num = F.sum(F.when(F.col("t") > 0, F.expr(f"{lcm} div t"))
                   .otherwise(0))
    scores = (grown.state.groupBy("id").agg(hc_num.alias("hc_num"))
              .withColumn("hc", F.col("hc_num") / F.lit(float(lcm))))
    return HarmonicResult(scores=scores, rounds=grown.rounds,
                          converged=grown.converged)


def harmonic_centrality_hll(
    edges: DataFrame,
    max_t: int = 64,
    b: int = 6,
    universe: DataFrame | None = None,
    direction: str = "in",
    rel_tol: float = 1e-4,
) -> HarmonicResult:
    """HyperANF-style harmonic centrality (Boldi-Vigna, "Axioms for
    centrality", Internet Math. 2014): hc(v) ≈ Σ_t (|B(v,t)|-|B(v,t-1)|)/t
    with ball sizes from the per-vertex HLL sketches."""
    grown = _hyperanf(edges, direction, max_t, b, universe, rel_tol, carry={
        "hc": lambda hc, grow, hop: hc + grow / F.lit(float(hop))})
    return HarmonicResult(scores=grown.state.select("id", "hc"),
                          rounds=grown.rounds, converged=grown.converged)


def _closeness(nr: Column, ds: Column, n_vertices: int) -> Column:
    """Wasserman-Faust (n/(N−1))·(n/dist_sum), 0 for an unreached vertex."""
    return F.when(ds > 0, (nr / F.lit(float(n_vertices - 1))) * (nr / ds)) \
            .otherwise(F.lit(0.0))


def closeness_centrality_exact(
    edges: DataFrame,
    max_t: int = 8,
    universe: DataFrame | None = None,
    direction: str = "in",
) -> ClosenessResult:
    """Wasserman-Faust closeness truncated at ``max_t`` hops:
    c(v) = (n_reached / (n - 1)) · (n_reached / dist_sum), the reach-scaled
    form that stays comparable across disconnected components (Wasserman &
    Faust 1994; the convention NetworkX ships as ``closeness_centrality``).

    Same first-reach table as ``harmonic_centrality_exact``, but each
    vertex sums the two EXACT integers (#reached, Σ distance) and the
    single double division happens once per vertex at the end, so the
    result value-hash matches any engine computing the same expression.
    ``direction='in'`` grows balls over reversed edges (who can reach v —
    the classic centrality); ``'out'`` measures v's reach."""
    grown = _first_reach(edges, direction, max_t, universe)
    sums = grown.state.groupBy("id").agg(
        F.count(F.when(F.col("t") > 0, 1)).alias("n_reached"),
        F.sum("t").alias("dist_sum"))
    scores = sums.select(
        "id", "n_reached", "dist_sum",
        _closeness(F.col("n_reached"), F.col("dist_sum"), grown.n_vertices)
        .alias("closeness"))
    return ClosenessResult(scores=scores, rounds=grown.rounds,
                           converged=grown.converged)


def closeness_centrality_hll(
    edges: DataFrame,
    max_t: int = 64,
    b: int = 6,
    universe: DataFrame | None = None,
    direction: str = "in",
    rel_tol: float = 1e-4,
) -> ClosenessResult:
    """HyperANF-style closeness — the 10^12-edge scale path of
    ``closeness_centrality_exact`` (whose pair-table state is O(V·B(t))).

    The per-hop ball GROWTH Δ_t = max(|B(v,t)| − |B(v,t−1)|, 0)
    accumulates two running per-vertex sums: n_reached ≈ Σ_t Δ_t and
    dist_sum ≈ Σ_t t·Δ_t, from which the Wasserman-Faust closeness
    (n/(N−1))·(n/dist_sum) is one final per-row expression. Sketch state
    O(V·2^b)."""
    grown = _hyperanf(edges, direction, max_t, b, universe, rel_tol, carry={
        "nr": lambda nr, grow, hop: nr + grow,
        "ds": lambda ds, grow, hop: ds + grow * F.lit(float(hop))})
    scores = grown.state.select(
        "id", F.col("nr").alias("n_reached_est"),
        F.col("ds").alias("dist_sum_est"),
        _closeness(F.col("nr"), F.col("ds"), grown.n_vertices)
        .alias("closeness"))
    return ClosenessResult(scores=scores, rounds=grown.rounds,
                           converged=grown.converged)


def closeness_centrality(
    edges: DataFrame,
    max_t: int = 8,
    universe: DataFrame | None = None,
    direction: str = "in",
    mode: str = "auto",
    state_budget: int = 2_000_000,
    b: int = 6,
    rel_tol: float = 1e-4,
) -> ClosenessResult:
    """Front door: Wasserman-Faust closeness, dispatching between the exact
    first-reach plan and the HyperANF sketch plan by PROJECTED STATE SIZE —
    the same degree-adaptive routing the reference applies to its kernels
    (/root/reference/PageRankLightSpMV.cu:63-105: pick the plan the input's
    shape can afford, don't run the small-input plan at scale).

    ``mode='exact'`` / ``'hll'`` force a plan. ``'auto'`` runs one probe
    hop of the exact growth (a single gather join + distinct — the cheapest
    honest estimate of ball volume) and projects the final pair-table state
    as V · g^max_t with g the measured mean ball growth of hop 1, capped at
    V². Projection within ``state_budget`` rows → exact (it is the truth
    and its constants are lower); beyond it → HLL, whose state is O(V·2^b)
    regardless of ball volume. At 10^12 edges the projection overflows any
    budget after hop 1, so auto IS the sketch plan there; the exact plan
    survives as the small-graph/oracle path.

    Exact-mode results carry (n_reached, dist_sum) as exact integers; HLL
    results estimate them (rel. std. err. ~1.04/sqrt(2^b))."""
    if mode not in ("auto", "exact", "hll"):
        raise ValueError(f"mode must be auto|exact|hll, got {mode!r}")
    if mode == "auto":
        e = _directed(edges, direction).localCheckpoint(eager=True)
        verts = _verts(e, universe)
        n_v = verts.count()
        if n_v == 0:
            mode = "exact"
        else:
            # probe: |{(v, r) : dist(v, r) <= 1}| = V + distinct edges
            s1 = float(n_v) + float(e.count())
            growth = s1 / float(n_v)
            projected = float(n_v) * min(growth ** max_t, float(n_v))
            mode = "exact" if projected <= state_budget else "hll"
        release(e)
    if mode == "exact":
        return closeness_centrality_exact(edges, max_t=max_t,
                                          universe=universe,
                                          direction=direction)
    return closeness_centrality_hll(edges, max_t=max_t, b=b,
                                    universe=universe, direction=direction,
                                    rel_tol=rel_tol)


def distance_stats(counts: list[float], alpha: float = 0.9) -> dict:
    """Effective diameter (interpolated, Boldi-Vigna convention) and mean
    finite-pair distance from a neighborhood function N(0..T)."""
    if not counts:
        raise ValueError("empty neighborhood function")
    total = counts[-1]
    target = alpha * total
    eff = float(len(counts) - 1)
    for t in range(len(counts)):
        if counts[t] >= target:
            if t == 0:
                eff = 0.0
            else:
                lo, hi = counts[t - 1], counts[t]
                eff = (t - 1) + (target - lo) / (hi - lo) if hi > lo else float(t)
            break
    reachable = total - counts[0]
    mean = (sum(t * (counts[t] - counts[t - 1])
                for t in range(1, len(counts))) / reachable
            if reachable > 0 else 0.0)
    return {"effective_diameter": eff, "mean_distance": mean,
            "n_pairs": total}
