"""Balanced graph partitioning by penalized label propagation.

The placement primitive a 100-TB link graph needs before anything else
runs: assign vertices to ``k`` partitions so most edges stay internal
(small edge cut ⇒ small shuffle for every downstream superstep) while
loads stay balanced. This is the Spinner family (Martella, Logothetis,
Andersen, Siganos, "Spinner: Scalable Graph Partitioning in the Cloud",
ICDE 2017): plain label propagation toward the partition holding most of
a vertex's neighbors, with the score damped by that partition's load so
full partitions repel newcomers:

    score(v, p) = |N(v) ∩ p| * (1 - load(p) / C),   C = ceil(n*slack/k)

Differences from the paper, chosen for determinism (the repo's
oracle-replayability discipline) in place of Spinner's probabilistic
move dampening:

* parity stagger — round r moves only vertices with (id + r) % 2 == 0
  (synchronized LPA otherwise lets neighbor pairs swap forever);
* STRICT score improvement required, ties to the LOWEST partition id;
* capacity-respecting ADMISSION — each round, target partition p admits
  only its top (C − load(p)) applicants by (gain desc, id asc). Without
  this, every borderline vertex stampedes into the same partition at
  once, overshoots C, and the now-negative penalty evicts a different
  set next round — measured on the two-clique fixture this oscillates
  and then collapses the whole graph into one partition. The admission
  rank is the deterministic stand-in for Spinner's migration
  probabilities.

All counts are exact integers; the only doubles are the penalty product
and the gain difference — identical IEEE algebra in any engine.

Scale shape (10^12 edges): a round is ONE edges⋈assignment equi-join
producing (v, neighbor_partition) rows, one (v, p) hash aggregate
(map-side partials collapse hub neighborhoods), one k-row load table
broadcast back, one per-v argmax via a max-struct aggregate — the J1
join + A2 combinable-aggregate shapes the whole engine is audited on —
plus one admission window per round, partitioned by TARGET partition:
at most k window groups over only the strict-improvers (a set that
shrinks as the partition converges). A k-bounded window group can be a
large task in round 1 on a pathological seed; the banded rewrite
recorded for adjacency_index (walks.py:34-130) applies if a profiled
input needs it. State is O(V); nothing is collected.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


def balanced_partition(edges: DataFrame, k: int, rounds: int = 5,
                       slack: float = 1.05) -> DataFrame:
    """Partition assignment ``(id, partition)`` after ``rounds`` penalized
    LPA rounds from the deterministic ``id % k`` start, over the
    undirected simple graph of ``edges (src, dst)`` (self-loops dropped,
    direction/multiplicity ignored; isolated endpoints of self-loops keep
    their seed partition).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0: {rounds}")
    if slack < 1.0:
        raise ValueError(f"slack must be >= 1.0: {slack}")
    und = simple_edges(edges)
    adj = (und.select(F.col("a").alias("id"), F.col("b").alias("nb"))
           .unionByName(und.select(F.col("b").alias("id"),
                                   F.col("a").alias("nb")))
           .localCheckpoint(eager=True))
    verts = (edges.select(F.col("src").alias("id"))
             .unionByName(edges.select(F.col("dst").alias("id")))
             .distinct()
             .localCheckpoint(eager=True))
    n = verts.count()
    if n == 0:
        return verts.select("id", F.lit(0).cast("int").alias("partition"))
    cap = float(math.ceil(n * slack / k))

    assign = verts.select(
        "id", F.pmod(F.col("id"), F.lit(k)).cast("int").alias("partition"))
    w_admit = Window.partitionBy("bp").orderBy(F.desc("gain"), "id")
    for r in range(rounds):
        assign = assign.localCheckpoint(eager=True)
        load = (assign.groupBy("partition")
                .agg(F.count(F.lit(1)).alias("load")))
        # candidate scores: neighbors per partition, load-penalized
        cand = (adj.join(assign.select(F.col("id").alias("nb"),
                                       F.col("partition").alias("p")), "nb")
                .groupBy("id", "p").agg(F.count(F.lit(1)).alias("cnt")))
        scored = (cand.join(F.broadcast(load),
                            cand["p"] == load["partition"], "left")
                  .select(cand["id"], cand["p"], "cnt",
                          (F.col("cnt")
                           * (F.lit(1.0) - F.coalesce("load", F.lit(0))
                              / F.lit(cap))).alias("score")))
        best = scored.groupBy("id").agg(
            F.max(F.struct(F.col("score"), (-F.col("p")).alias("np"),
                           F.col("p").alias("bp"))).alias("b"))
        cur = (scored.join(assign.withColumnRenamed("partition", "cp"),
                           ["id"])
               .filter(F.col("p") == F.col("cp"))
               .select("id", F.col("score").alias("cur_score")))
        movers = (assign
                  .join(best, "id")
                  .join(cur, "id", "left")
                  .filter((F.pmod(F.col("id") + F.lit(r), F.lit(2)) == 0)
                          & (F.col("b.score")
                             > F.coalesce("cur_score", F.lit(0.0)))
                          & (F.col("b.bp") != F.col("partition")))
                  .select("id", F.col("b.bp").alias("bp"),
                          (F.col("b.score")
                           - F.coalesce("cur_score", F.lit(0.0)))
                          .alias("gain")))
        admitted = (movers
                    .join(F.broadcast(load.select(
                        F.col("partition").alias("bp"), "load")),
                        "bp", "left")
                    .withColumn("rk", F.row_number().over(w_admit))
                    .filter(F.col("rk") <= F.lit(cap)
                            - F.coalesce("load", F.lit(0)))
                    .select("id", F.col("bp").alias("new_p")))
        assign = (assign.join(admitted, "id", "left")
                  .select("id", F.coalesce("new_p", "partition")
                          .cast("int").alias("partition")))
    return assign


def partition_quality(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """One-row quality summary ``(n_vertices, k_used, n_edges, cut_edges,
    cut_fraction, max_load, imbalance)`` of an assignment over the
    undirected simple graph — imbalance = max_load / (n/k_used)."""
    und = simple_edges(edges).localCheckpoint(eager=True)
    lab = assign.select("id", "partition")
    tagged = (und
              .join(lab.select(F.col("id").alias("a"),
                               F.col("partition").alias("pa")), "a")
              .join(lab.select(F.col("id").alias("b"),
                               F.col("partition").alias("pb")), "b"))
    loads = lab.groupBy("partition").agg(F.count(F.lit(1)).alias("load"))
    e = tagged.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("pa") != F.col("pb"), 1).otherwise(0))
        .alias("cut_edges"))
    l = loads.agg(F.count(F.lit(1)).alias("k_used"),
                  F.sum("load").alias("n_vertices"),
                  F.max("load").alias("max_load"))
    return (e.crossJoin(l).select(
        "n_vertices", "k_used", "n_edges", "cut_edges",
        F.round(F.when(F.col("n_edges") > 0,
                       F.col("cut_edges") / F.col("n_edges").cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("cut_fraction"),
        "max_load",
        F.round(F.col("max_load")
                / (F.col("n_vertices") / F.col("k_used")).cast("double"), 6)
        .alias("imbalance")))
