"""Neighborhood function / effective diameter vs an exact BFS oracle."""

from __future__ import annotations

import numpy as np
import pytest

from pagerank_spark.functions.hashing import mix2
from pagerank_spark.operators.neighborhood import (
    distance_stats,
    neighborhood_function_exact,
    neighborhood_function_hll,
)
from pagerank_spark.oracle import neighborhood_oracle


def _random_edges(n: int, m: int, seed_tag: int) -> list[tuple[int, int]]:
    ids = np.arange(m, dtype=np.uint64)
    src = mix2(ids, seed_tag) % np.uint64(n)
    dst = mix2(ids, seed_tag ^ 0xD1A) % np.uint64(n)
    return [(int(s), int(d)) for s, d in zip(src, dst)]


def test_exact_path_and_cycle(spark):
    """Directed path 0->1->2->3 plus the 2-cycle {4,5}: hand-counted N(t)."""
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 4)], "src long, dst long")
    res = neighborhood_function_exact(df, max_t=10)
    assert res.counts == [6.0, 11.0, 13.0, 14.0]
    assert res.converged and res.rounds == 3
    got = {(r.t, r.n_pairs) for r in res.nf.collect()}
    assert got == {(0, 6), (1, 11), (2, 13), (3, 14)}


@pytest.mark.parametrize("n,m,tag", [(60, 150, 71), (80, 320, 72)])
def test_exact_matches_bfs_oracle(spark, n, m, tag):
    edges = _random_edges(n, m, tag)
    df = spark.createDataFrame(edges, "src long, dst long")
    res = neighborhood_function_exact(df, max_t=64, universe=spark.range(n))
    assert res.converged
    assert [int(c) for c in res.counts] == neighborhood_oracle(edges, n)


def test_exact_truncated_at_max_t(spark):
    edges = [(i, i + 1) for i in range(20)]           # directed path
    df = spark.createDataFrame(edges, "src long, dst long")
    res = neighborhood_function_exact(df, max_t=3)
    want = neighborhood_oracle(edges, 21, max_t=3)
    assert [int(c) for c in res.counts] == want
    assert res.rounds == 3 and not res.converged


def test_hll_tracks_exact_within_error(spark):
    """HyperANF estimate vs exact truth on a random digraph. b=6 gives
    ~13% rel. std. err. per point; 0.3 is a >2-sigma band."""
    # denser graph (avg degree 8): same estimator statistics, but the
    # diameter — and so the serial hop count that dominates wall time —
    # drops from ~8 to ~4
    n, m = 120, 960
    edges = _random_edges(n, m, 73)
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = neighborhood_function_exact(df, max_t=64, universe=spark.range(n))
    approx = neighborhood_function_hll(df, max_t=64, b=6,
                                       universe=spark.range(n))
    assert approx.converged
    err = abs(approx.counts[-1] - exact.counts[-1]) / exact.counts[-1]
    assert err < 0.3, (approx.counts[-1], exact.counts[-1])


def test_hll_deterministic(spark):
    # dense (avg degree 6): diameter ~4, so each of the two runs is a
    # handful of serial hops instead of ~8
    edges = _random_edges(80, 480, 74)
    df = spark.createDataFrame(edges, "src long, dst long")
    a = neighborhood_function_hll(df, max_t=32, b=5)
    c = neighborhood_function_hll(df, max_t=32, b=5)
    assert a.counts == c.counts and a.rounds == c.rounds


def test_hll_saturation_is_exact_fixpoint(spark):
    """On a single strongly connected cycle every sketch saturates to the
    full-graph sketch; convergence must come from the register-sum
    fixpoint, not the plateau tolerance."""
    n = 8   # rounds scale with the cycle length; 8 pins the property
    df = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                               "src long, dst long")
    res = neighborhood_function_hll(df, max_t=64, b=6, rel_tol=0.0)
    assert res.converged
    assert res.rounds <= n                     # diameter n-1, +1 flat hop


def test_distance_stats_path():
    # N(t) of the path+cycle fixture
    stats = distance_stats([6.0, 11.0, 13.0, 14.0], alpha=0.9)
    assert stats["n_pairs"] == 14.0
    assert stats["mean_distance"] == pytest.approx(1.5)
    # target 12.6 falls between N(1)=11 and N(2)=13 -> 1 + 1.6/2
    assert stats["effective_diameter"] == pytest.approx(1.8)


def test_distance_stats_edgeless():
    stats = distance_stats([5.0])
    assert stats["effective_diameter"] == 0.0
    assert stats["mean_distance"] == 0.0


# --------------------------- harmonic centrality ---------------------------

from pagerank_spark.operators.neighborhood import (  # noqa: E402
    harmonic_centrality_exact,
    harmonic_centrality_hll,
)
from pagerank_spark.oracle import harmonic_oracle  # noqa: E402


def test_harmonic_exact_path(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    res = harmonic_centrality_exact(df, max_t=3, universe=spark.range(4))
    got = {r.id: r.hc_num for r in res.scores.collect()}
    assert got == {0: 0, 1: 6, 2: 9, 3: 11}
    hc = {r.id: r.hc for r in res.scores.collect()}
    assert hc[3] == pytest.approx(11 / 6)


@pytest.mark.parametrize("n,m,tag,direction",
                         [(50, 160, 81, "in"), (70, 210, 82, "out")])
def test_harmonic_exact_matches_bfs_oracle(spark, n, m, tag, direction):
    edges = _random_edges(n, m, tag)
    df = spark.createDataFrame(edges, "src long, dst long")
    res = harmonic_centrality_exact(df, max_t=5, universe=spark.range(n),
                                    direction=direction)
    got = {r.id: r.hc_num for r in res.scores.collect()}
    assert got == harmonic_oracle(edges, n, 5, direction=direction)


def test_harmonic_hll_tracks_exact(spark):
    """Aggregate HLL harmonic mass within estimator error of the exact
    total, and per-vertex scores deterministic across runs."""
    n, m = 100, 800    # dense: fewer serial hops, same statistics
    edges = _random_edges(n, m, 83)
    df = spark.createDataFrame(edges, "src long, dst long")
    ex = harmonic_centrality_exact(df, max_t=12, universe=spark.range(n))
    ap = harmonic_centrality_hll(df, max_t=32, b=6, universe=spark.range(n))
    assert ap.converged
    tot_ex = sum(r.hc for r in ex.scores.collect())
    got = {r.id: r.hc for r in ap.scores.collect()}
    tot_ap = sum(got.values())
    assert abs(tot_ap - tot_ex) / tot_ex < 0.3, (tot_ap, tot_ex)
    # sketch determinism across runs is pinned by test_hll_deterministic
    # and the closeness re-run below — both drive the same HyperANF core;
    # a third identical re-run here bought nothing for ~6s


def test_harmonic_bad_direction(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        harmonic_centrality_exact(df, direction="sideways")


def test_closeness_hll_tracks_exact(spark):
    """Aggregate HLL (n_reached, dist_sum) mass within estimator error of
    the exact totals; per-vertex scores deterministic across runs."""
    from pagerank_spark.operators.neighborhood import (
        closeness_centrality_exact, closeness_centrality_hll)
    n, m = 100, 800    # dense: fewer serial hops, same statistics
    edges = _random_edges(n, m, 84)
    df = spark.createDataFrame(edges, "src long, dst long")
    ex = closeness_centrality_exact(df, max_t=12, universe=spark.range(n))
    ap = closeness_centrality_hll(df, max_t=32, b=6, universe=spark.range(n))
    assert ap.converged
    ex_rows = ex.scores.collect()
    got = {r.id: (r.n_reached_est, r.dist_sum_est, r.closeness)
           for r in ap.scores.collect()}
    tot_nr_ex = sum(r.n_reached for r in ex_rows)
    tot_ds_ex = sum(r.dist_sum for r in ex_rows)
    tot_nr_ap = sum(v[0] for v in got.values())
    tot_ds_ap = sum(v[1] for v in got.values())
    assert abs(tot_nr_ap - tot_nr_ex) / tot_nr_ex < 0.3
    assert abs(tot_ds_ap - tot_ds_ex) / tot_ds_ex < 0.3
    again = {r.id: (r.n_reached_est, r.dist_sum_est, r.closeness)
             for r in closeness_centrality_hll(
                 df, max_t=32, b=6, universe=spark.range(n)).scores.collect()}
    assert got == again


def test_closeness_front_door_dispatch(spark):
    """mode='auto' routes by projected pair-table state: a tight budget
    forces the HLL plan (schema carries *_est estimates), a loose one the
    exact plan (exact integer columns). Both come out of the ONE front
    door the bench measures — the dispatched plan is the measured plan."""
    from pagerank_spark.operators.neighborhood import closeness_centrality

    # dispatch is decided by the probe, not the run depth — the smallest
    # fixture whose projected pair state sits between the two budgets
    n, m = 30, 90
    df = spark.createDataFrame(_random_edges(n, m, 21), "src long, dst long")
    uni = spark.range(n)
    ex = closeness_centrality(df, max_t=3, universe=uni, mode="auto",
                              state_budget=10_000_000)
    assert "n_reached" in ex.scores.columns          # exact plan chosen
    ap = closeness_centrality(df, max_t=3, universe=uni, mode="auto",
                              state_budget=100)
    assert "n_reached_est" in ap.scores.columns      # HLL plan chosen
    with pytest.raises(ValueError):
        closeness_centrality(df, mode="both")


def test_closeness_hll_state_is_linear_on_hub(spark):
    """Skewed-hub fixture: a star where every spoke reaches every other
    spoke through the hub in 2 hops — exact pair state is ~V^2 while the
    sketch table stays exactly V rows (one fixed-width sketch per vertex),
    and auto dispatch picks the sketch plan under a V^2-excluding budget."""
    from pagerank_spark.operators.neighborhood import closeness_centrality

    n = 400  # V^2 = 160k pair rows vs V = 400 sketch rows
    edges = [(i, n, ) for i in range(n)] + [(n, i) for i in range(n)]
    df = spark.createDataFrame(
        [(s, d) for s, d in edges], "src long, dst long")
    res = closeness_centrality(df, max_t=4, mode="auto", state_budget=5_000)
    assert "n_reached_est" in res.scores.columns     # sketch plan dispatched
    rows = res.scores.count()
    assert rows == n + 1                             # state rows = V, not V·B(t)
    # every spoke reaches all n+1 vertices within 2 hops (direction='in'
    # counts who reaches v — symmetric on this star): estimates near n+1
    est = {r.id: r.n_reached_est for r in res.scores.collect()}
    for v, e in est.items():
        assert abs(e - n) / n < 0.35, (v, e)


@pytest.mark.parametrize("name", ["neighborhood_function", "harmonic_centrality",
                                  "closeness_centrality"])
def test_hll_on_a_graph_with_no_vertices_matches_exact(spark, name):
    from pagerank_spark.operators import neighborhood as nb

    e = spark.createDataFrame([], "src long, dst long")
    exact = getattr(nb, f"{name}_exact")(e)
    hll = getattr(nb, f"{name}_hll")(e)
    assert (hll.rounds, hll.converged) == (exact.rounds, exact.converged) == (0, True)
    if name == "neighborhood_function":
        assert hll.counts == exact.counts == [0.0]
        assert [tuple(r) for r in hll.nf.collect()] == [(0, 0.0)]
    else:
        assert hll.scores.count() == exact.scores.count() == 0
