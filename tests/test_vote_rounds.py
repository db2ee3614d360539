"""Round shape of connected components and the three label propagations:
the Spark jobs one round costs, the tie-break of the single vote
aggregate, a hub vertex, empty input and the frames a call leaves pinned."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.labelprop import (label_propagation,
                                                seeded_label_propagation,
                                                weighted_label_propagation)
from pagerank_spark.oracle import components_oracle, label_prop_oracle

PATH = [(i, i + 1) for i in range(39)]

# name -> (run(spark, edges, max_rounds), jobs one round may cost with
# AQE on, where every shuffle stage and broadcast is a job of its own)
ROUNDS = {
    "connected_components": (
        lambda s, e, k: connected_components(e, max_rounds=k), 4),
    "label_propagation": (lambda s, e, k: label_propagation(e, max_rounds=k), 5),
    "seeded_label_propagation": (
        lambda s, e, k: seeded_label_propagation(
            e, s.createDataFrame([(0, 1), (39, 2)], "id long, label long"),
            max_rounds=k), 5),
    "weighted_label_propagation": (
        lambda s, e, k: weighted_label_propagation(
            e.withColumn("w", F.lit(1.0)), max_rounds=k), 6),
}


def _jobs(spark, group, call):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(ROUNDS))
def test_jobs_per_round(spark, name):
    run, per_round = ROUNDS[name]
    e = spark.createDataFrame(PATH, "src long, dst long").localCheckpoint()
    # the shipped session runs AQE; the test session turns it off, which
    # folds a round's shuffles into one job and hides them
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        few, jobs_few = _jobs(spark, f"{name}-1", lambda: run(spark, e, 1))
        many, jobs_many = _jobs(spark, f"{name}-4", lambda: run(spark, e, 4))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert (few.rounds, many.rounds) == (1, 4), name  # the path really iterates
    assert jobs_many - jobs_few <= 3 * per_round, (name, jobs_few, jobs_many)


def test_equal_count_tie_takes_the_smaller_label(spark):
    # round 1: 10, 11 take min(100, 5) = 5 and 12, 13 take min(100, 3) = 3,
    # so in round 2 vertex 100 sees labels 5, 5, 3, 3: a tie at count two
    edges = [(100, v) for v in (10, 11, 12, 13)] + [
        (10, 5), (11, 5), (12, 3), (13, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = dict(label_propagation(e, max_rounds=2).labels.collect())
    assert got[100] == 3
    want = label_prop_oracle(edges, 101, max_iter=2)
    assert got == {v: int(want[v]) for v in got}


def test_seeded_equal_count_tie_takes_the_smaller_label(spark):
    e = spark.createDataFrame([(0, v) for v in (1, 2, 3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1, 9), (2, 9), (3, 4), (4, 4)],
                                  "id long, label long")
    got = dict(seeded_label_propagation(e, seeds, max_rounds=1).labels.collect())
    assert got == {0: 4, 1: 9, 2: 9, 3: 4, 4: 4}


def test_hub_and_universe_only_vertex_match_the_oracles(spark):
    leaves = 5000
    edges = [(0, v) for v in range(1, leaves + 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    universe = spark.range(leaves + 2)  # vertex leaves+1 has no edge
    n = leaves + 2
    cc = dict(connected_components(e, universe=universe).labels.collect())
    want = components_oracle(edges, n)
    assert cc == {v: int(want[v]) for v in range(n)}
    lp = label_propagation(e, universe=universe, max_rounds=4)
    want = label_prop_oracle(edges, n, max_iter=4)
    assert dict(lp.labels.collect()) == {v: int(want[v]) for v in range(n)}
    assert lp.rounds == 4 and not lp.converged  # a star flips every round


@pytest.mark.parametrize("with_universe", [False, True])
def test_empty_edge_table(spark, with_universe):
    e = spark.createDataFrame([], "src long, dst long")
    universe = spark.range(3) if with_universe else None
    own = [(i, i) for i in range(3)] if with_universe else []
    seeds = spark.createDataFrame([(2, 7)], "id long, label long")
    for res, want in (
            (connected_components(e, universe=universe), own),
            (label_propagation(e, universe=universe), own),
            (weighted_label_propagation(e.withColumn("w", F.lit(1.0)),
                                        universe=universe), own),
            (seeded_label_propagation(e, seeds, universe=universe),
             [(0, None), (1, None), (2, 7)] if with_universe else [])):
        assert (res.rounds, res.converged) == (1, True)
        assert sorted(tuple(r) for r in res.labels.collect()) == want


@pytest.mark.parametrize("name", ["label_propagation", "seeded_label_propagation",
                                  "weighted_label_propagation"])
def test_propagation_frees_its_loop_frames(spark, name):
    run, _ = ROUNDS[name]
    e = spark.createDataFrame(PATH, "src long, dst long").localCheckpoint()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    res = run(spark, e, 3)
    assert res.labels.count() == 40
    # the labels are the runner's last round; nothing else stays pinned
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1
