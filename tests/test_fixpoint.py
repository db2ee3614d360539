"""Contract of the shared fixpoint runner (plans/fixpoint.py) and of every
round-loop operator built on it: bounded pinned state, an honest
``converged`` flag at the round cap, and a fresh dir-backed run that moves
the previous run aside."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pagerank_spark.operators.betweenness import betweenness
from pagerank_spark.operators.bfs import bfs_hops, landmark_bfs
from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.coreness import coreness
from pagerank_spark.operators.eigenvector import eigenvector_centrality
from pagerank_spark.operators.graph import build_graph
from pagerank_spark.operators.hits import hits, salsa
from pagerank_spark.operators.katz import katz_centrality
from pagerank_spark.operators.kcore import k_core
from pagerank_spark.operators.labelprop import (label_propagation,
                                                seeded_label_propagation,
                                                weighted_label_propagation)
from pagerank_spark.operators.neighborhood import (
    closeness_centrality_exact, closeness_centrality_hll,
    harmonic_centrality_exact, harmonic_centrality_hll,
    neighborhood_function_exact, neighborhood_function_hll)
from pagerank_spark.operators.pagerank import pagerank
from pagerank_spark.operators.ppr_batch import personalized_pagerank_batch
from pagerank_spark.operators.redirects import resolve_redirects
from pagerank_spark.operators.scc import strongly_connected_components
from pagerank_spark.operators.sssp import shortest_paths
from pagerank_spark.operators.truss import k_truss
from pagerank_spark.plans.checkpoint import SuperstepCheckpointer
from pagerank_spark.plans.fixpoint import fixpoint, pin, release

# a 24-vertex path closed into a cycle by its last edge, a triangle and a
# 3-vertex tail hanging off it, and a triangle strip 40..47 (edges (i,i+1)
# and (i,i+2)): every migrated loop needs several rounds on it
PATH = [(i, i + 1) for i in range(24)]
EDGES = (PATH + [(24, 0), (0, 30), (30, 31), (31, 0), (50, 51), (51, 52), (52, 1)]
         + [(i, i + d) for i in range(40, 46) for d in (1, 2)] + [(46, 47)])


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long").localCheckpoint()


@pytest.fixture(scope="module")
def graph(spark, edges):
    return build_graph(spark, edges)


# operator name -> (run(spark, edges, graph, cap) -> result, small cap, large cap)
OPERATORS = {
    "pagerank": (lambda s, e, g, cap: pagerank(g, tol=1e-12, max_iter=cap), 1, 6),
    "connected_components": (
        lambda s, e, g, cap: connected_components(e, max_rounds=cap), 1, 8),
    "label_propagation": (
        lambda s, e, g, cap: label_propagation(e, max_rounds=cap), 1, 6),
    "weighted_label_propagation": (
        lambda s, e, g, cap: weighted_label_propagation(
            e.withColumn("w", F.lit(1.0)), max_rounds=cap), 1, 6),
    "seeded_label_propagation": (
        lambda s, e, g, cap: seeded_label_propagation(
            e, s.createDataFrame([(12, 1), (44, 2)], "id long, label long"),
            max_rounds=cap), 1, 6),
    "katz_centrality": (
        lambda s, e, g, cap: katz_centrality(e, max_iter=cap, tol=1e-12), 1, 6),
    "eigenvector_centrality": (
        lambda s, e, g, cap: eigenvector_centrality(e, iterations=cap), 1, 6),
    "k_core": (lambda s, e, g, cap: k_core(e, 2, max_rounds=cap), 1, 8),
    "coreness": (lambda s, e, g, cap: coreness(e, max_rounds=cap), 1, 8),
    "k_truss": (lambda s, e, g, cap: k_truss(e, 4, max_rounds=cap), 1, 8),
    "shortest_paths": (
        lambda s, e, g, cap: shortest_paths(e, [1], weight_col=None,
                                            max_rounds=cap), 1, 8),
    "resolve_redirects": (
        lambda s, e, g, cap: resolve_redirects(
            s.createDataFrame(PATH, "src long, dst long"), max_hops=2 ** cap),
        1, 5),
    "neighborhood_function_exact": (
        lambda s, e, g, cap: neighborhood_function_exact(e, max_t=cap), 1, 6),
    "neighborhood_function_hll": (
        lambda s, e, g, cap: neighborhood_function_hll(
            e, max_t=cap, b=4, rel_tol=0.0), 1, 6),
    "harmonic_centrality_exact": (
        lambda s, e, g, cap: harmonic_centrality_exact(e, max_t=cap), 1, 6),
    "harmonic_centrality_hll": (
        lambda s, e, g, cap: harmonic_centrality_hll(
            e, max_t=cap, b=4, rel_tol=0.0), 1, 6),
    "closeness_centrality_exact": (
        lambda s, e, g, cap: closeness_centrality_exact(e, max_t=cap), 1, 6),
    "closeness_centrality_hll": (
        lambda s, e, g, cap: closeness_centrality_hll(
            e, max_t=cap, b=4, rel_tol=0.0), 1, 6),
    "strongly_connected_components": (
        lambda s, e, g, cap: strongly_connected_components(e, max_rounds=cap),
        1, 6),
}

# fixed-iteration operators (no round count in the result):
# name -> run(spark, edges, graph, iterations)
FIXED = {
    "hits": lambda s, e, g, n: hits(e, iterations=n),
    "salsa": lambda s, e, g, n: salsa(e, iterations=n),
    "personalized_pagerank_batch": lambda s, e, g, n: personalized_pagerank_batch(
        g, s.createDataFrame([(0, 1, 1.0), (1, 44, 1.0)],
                             "sid long, id long, p double"), iterations=n),
}


def _rounds(res) -> int:
    for name in ("rounds", "iterations"):
        if hasattr(res, name):
            return getattr(res, name)
    raise AssertionError(res)


def _pinned_by(spark, call):
    """(result, ids of the RDDs the call left persisted)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    res = call()
    return res, set(jsc.getPersistentRDDs().keySet()) - before


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_pinned_state_does_not_grow_with_rounds(spark, edges, graph, name):
    run, small, large = OPERATORS[name]
    few, pinned_few = _pinned_by(spark, lambda: run(spark, edges, graph, small))
    many, pinned_many = _pinned_by(spark, lambda: run(spark, edges, graph, large))
    assert _rounds(many) > _rounds(few), name  # the fixture really iterates
    assert len(pinned_many) <= len(pinned_few), (name, pinned_few, pinned_many)


@pytest.mark.parametrize("name", sorted(FIXED))
def test_pinned_state_does_not_grow_with_iterations(spark, edges, graph, name):
    run = FIXED[name]
    _, pinned_few = _pinned_by(spark, lambda: run(spark, edges, graph, 1))
    _, pinned_many = _pinned_by(spark, lambda: run(spark, edges, graph, 6))
    assert len(pinned_many) <= len(pinned_few), (name, pinned_few, pinned_many)


@pytest.mark.parametrize(
    "name", sorted(n for n in OPERATORS
                   if n not in ("eigenvector_centrality", "resolve_redirects")))
def test_round_cap_reports_not_converged(spark, edges, graph, name):
    run, small, _ = OPERATORS[name]
    res = run(spark, edges, graph, small)
    assert res.converged is False, name
    assert _rounds(res) == small, name


@pytest.mark.parametrize("op", [connected_components, label_propagation])
def test_fresh_dir_run_moves_previous_run_aside(spark, edges, tmp_path, op):
    d = str(tmp_path / "ck")
    first = op(edges, max_rounds=3, checkpointer=SuperstepCheckpointer(spark, d))
    ck = SuperstepCheckpointer(spark, d)
    with pytest.warns(UserWarning, match="ranks.old"):
        op(edges, max_rounds=1, checkpointer=ck)
    assert sorted(os.listdir(os.path.join(d, "ranks.old"))) == [
        f"iter={i}" for i in range(1, first.rounds + 1)]
    assert ck.last_committed() == 1
    assert [m["iteration"] for m in ck.load_metrics()] == [1]


def test_runner_rounds_stats_and_rows(spark):
    state, stats = pin(spark.range(5).select(F.col("id").alias("v")),
                       F.sum("v").alias("total"))
    assert stats == {"total": 10}
    seen = []

    def stop(stats, prev):
        seen.append((stats["total"], prev["total"]))
        return stats["total"] >= 30

    ckpt = SuperstepCheckpointer(spark)
    run = fixpoint(state, lambda df, _prev: df.select((F.col("v") + 1).alias("v")),
                   [F.sum("v").alias("total")], stop, 10,
                   checkpointer=ckpt, stats=stats)
    # totals 15, 20, 25, 30: each round sees the previous round's scalars
    assert (run.rounds, run.converged, run.stats) == (4, True, {"total": 30})
    assert seen == [(15, 10), (20, 15), (25, 20), (30, 25)]
    assert sorted(r.v for r in run.state.collect()) == [4, 5, 6, 7, 8]
    assert [(m["iteration"], m["total"], m["converged"]) for m in ckpt.metrics] == [
        (1, 15, False), (2, 20, False), (3, 25, False), (4, 30, True)]
    capped = fixpoint(run.state, lambda df, _prev: df, [F.count("v").alias("n")],
                      lambda stats, prev: False, 2)
    assert (capped.rounds, capped.converged) == (2, False)


def test_release_frees_a_local_checkpoint(spark):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = spark.range(10).localCheckpoint(eager=True)
    assert set(jsc.getPersistentRDDs().keySet()) - before
    df.unpersist()  # goes through the cache manager: the blocks stay
    assert set(jsc.getPersistentRDDs().keySet()) - before
    release(df)
    assert not set(jsc.getPersistentRDDs().keySet()) - before
    release(spark.range(3))  # a lazy plan is left alone


# frontier loops whose result is a union of per-round frames:
# name -> run(spark, edges, hops) -> (result, rounds)
FRONTIER = {
    "bfs_hops": lambda s, e, n: (lambda r: (r, r.rounds))(
        bfs_hops(e, [0], max_hops=n)),
    "landmark_bfs": lambda s, e, n: (lambda r: (r, r.rounds))(
        landmark_bfs(e, [0, 40], max_hops=n)),
    "betweenness": lambda s, e, n: (lambda r: (r, r.depth))(
        betweenness(e, k_sources=4, max_depth=n)),
}


@pytest.mark.parametrize("name", sorted(FRONTIER))
def test_frontier_loops_pin_only_what_the_result_reads(spark, edges, name):
    run = FRONTIER[name]
    (_, few), pinned_few = _pinned_by(spark, lambda: run(spark, edges, 1))
    (_, many), pinned_many = _pinned_by(spark, lambda: run(spark, edges, 40))
    assert many > few, name
    # at most one frame per extra round (a BFS layer, a betweenness delta)
    # survives the call: the returned lazy union reads it
    assert len(pinned_many) - len(pinned_few) <= many - few, (
        name, pinned_few, pinned_many)
