"""Label propagation: synchronous rounds over the undirected graph.

Absent from the reference (SURVEY.md §2.9); mandated by the north rule.
Semantics (deterministic, so results are exactly reproducible and the
NumPy oracle can assert equality):

  labels[v] := v initially
  per round, every vertex with >=1 neighbor takes the most frequent label
  among its neighbors' current labels; ties break to the SMALLEST label.
  Vertices with no neighbors keep their label. Stop at fixpoint or after
  ``max_rounds``.

DataFrame formulation per round (SURVEY.md §2.9): join labels onto the
symmetric edge list (one vote row per neighbor), union each vertex's own
row and run ONE id-keyed aggregate: deterministic ``mode(vote)`` is the
most frequent vote, ties to the smallest, and the own label rides along
for the fallback and the changed flag — the edge join plus one shuffle.
Scale trade: ``mode`` holds a vertex's distinct neighbor labels in one
unspillable map (a round-1 hub: one entry per neighbor), where counting
per (vertex, label) first was skew-safe; salt a hub's votes if one ever
overflows a task.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges, symmetric_edges
from pagerank_spark.plans.fixpoint import fixpoint, release, resume_point


@dataclass
class LabelPropResult:
    labels: DataFrame      # (id long, label long)
    rounds: int
    converged: bool


def _vertices(sym: DataFrame, universe: DataFrame | None) -> DataFrame:
    vertices = sym.select(F.col("src").alias("id")).distinct()
    if universe is not None:
        vertices = vertices.unionAll(universe.select("id")).distinct()
    return vertices


def _neighbors(sym: DataFrame, labels: DataFrame) -> DataFrame:
    # for edge (src, dst), vertex src sees vote = label(dst)
    return sym.join(labels.select(F.col("id").alias("dst"), F.col("label")
                                  .alias("vote")), "dst").withColumnRenamed("src", "id")


def _tally(votes: DataFrame, own: DataFrame, new: Column) -> DataFrame:
    """One aggregate per id over the vote rows and the own row: ``new``
    over the votes, the max (the one value) of every other ``own`` column."""
    return votes.unionByName(own, allowMissingColumns=True).groupBy("id").agg(
        new.alias("new"), *[F.max(c).alias(c) for c in own.columns[1:]])


def _vote(votes: DataFrame, labels: DataFrame, new: Column) -> DataFrame:
    own = labels.select("id", F.col("label").alias("own"))
    return _tally(votes, own, new).select(
        "id", F.coalesce("new", "own").alias("label"),
        (F.col("new") != F.col("own")).cast("int").alias("chg"))


def _propagate(sym: DataFrame, state: DataFrame, step, max_rounds: int,
               **kw) -> LabelPropResult:
    # vertices whose label moved, observed on the round's own
    # materialization: one Spark job per round, no compare-join job
    run = fixpoint(state, step, [F.sum("chg").alias("changed")],
                   lambda stats, _prev: not stats["changed"], max_rounds, **kw)
    release(sym)  # the labels are the last round, which does not read it
    return LabelPropResult(labels=run.state.select("id", "label"),
                           rounds=run.rounds, converged=run.converged)


def label_propagation(
    edges: DataFrame,
    universe: DataFrame | None = None,
    max_rounds: int = 20,
    checkpointer=None,
    resume: bool = False,
) -> LabelPropResult:
    """``checkpointer``: optional dir-backed
    :class:`~pagerank_spark.plans.checkpoint.SuperstepCheckpointer` — each
    round's (id, label) state commits to parquet with a metrics row
    (changed-vertex count, wall ms, per-partition lineage); ``resume=True``
    continues a killed run from the last committed round, the same
    superstep-resume contract as ``pagerank()``. ``None`` keeps the
    in-memory ``localCheckpoint`` path."""
    sym = symmetric_edges(simple_edges(edges)).localCheckpoint(eager=True)
    start_round, labels = resume_point(checkpointer, resume)
    if labels is None:
        labels = _vertices(sym, universe).select(
            "id", F.col("id").alias("label")).localCheckpoint(eager=True)

    def step(labels: DataFrame, _prev) -> DataFrame:
        return _vote(_neighbors(sym, labels), labels, F.mode("vote", True))

    return _propagate(sym, labels, step, max_rounds,
                      checkpointer=checkpointer, start=start_round)


def weighted_label_propagation(
    edges: DataFrame,
    universe: DataFrame | None = None,
    max_rounds: int = 20,
    weight_col: str = "w",
) -> LabelPropResult:
    """Label propagation over a WEIGHTED undirected graph: per round each
    vertex takes the label with the largest total incident edge weight
    among its neighbors (ties -> smallest label) — anchor-quality or
    link-count weighted community detection for the webtext tier, where a
    heavily-linked neighbor should pull harder than a stray link.

    Undirected collapse: weight({a,b}) = Σ ``weight_col`` over ALL parallel
    rows in either direction (self-loops dropped), so a doubled link
    counts double — the categorical analogue of the reference's P9
    row-sum weight normalization (lightSpMV/PageRank.h:256-274).

    Determinism/oracle note: the argmax tie-break compares summed weights
    for exact equality, so weights should be exactly summable (integers,
    or doubles with exact binary representations) for cross-engine
    value-hash parity. Round shape: SUM(w) per (vertex, label), then
    ``label_propagation``'s one vote aggregate over max(struct(SUM, -label))
    — two shuffles, no window, O(E)+O(V) state, skew-safe.
    """
    sym = symmetric_edges(
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("w"))
        .groupBy("a", "b").agg(F.sum("w").alias("w")), "w"
    ).localCheckpoint(eager=True)
    labels = _vertices(sym, universe).select(
        "id", F.col("id").alias("label")).localCheckpoint(eager=True)

    def step(labels: DataFrame, _prev) -> DataFrame:
        votes = _neighbors(sym, labels).groupBy("id", "vote").agg(
            F.struct(F.sum("w"), (-F.col("vote")).alias("nl")).alias("s"))
        # the largest summed weight, ties -> the smallest label
        return _vote(votes, labels, -F.max("s")["nl"])

    return _propagate(sym, labels, step, max_rounds)


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    universe: DataFrame | None = None,
    max_rounds: int = 20,
) -> LabelPropResult:
    """Semi-supervised label propagation: ``seeds (id, label)`` carry fixed
    class labels (spam/benign, topic ids); every round each NON-seed
    vertex takes the most frequent label among its LABELED neighbors
    (ties -> smallest label), or stays unlabeled (NULL) if it has none.
    Seeds never change — the categorical counterpart of TrustRank's
    continuous trust mass (Gyongyi et al., VLDB'04), and the classic
    guilt-by-association spam classifier over the host graph.

    Same round shape as ``label_propagation`` (its own row also carries the
    seed); the only additions are a labeled-neighbor filter and the
    pinned-seed coalesce. Unreached vertices return ``label = NULL``.
    """
    sym = symmetric_edges(simple_edges(edges)).localCheckpoint(eager=True)
    seed_tbl = seeds.select("id", F.col("label").cast("long").alias("seed_label"))
    state = (_vertices(sym, universe).join(seed_tbl, "id", "left")
             .select("id", F.col("seed_label").alias("label"), "seed_label")
             .localCheckpoint(eager=True))

    def step(state: DataFrame, _prev) -> DataFrame:
        votes = _neighbors(sym, state.filter(F.col("label").isNotNull()))
        own = state.select("id", F.col("label").alias("own"), "seed_label")
        label = F.coalesce("seed_label", "new", "own")
        return _tally(votes, own, F.mode("vote", True)).select(
            "id", label.alias("label"), "seed_label",
            (~label.eqNullSafe(F.col("own"))).cast("int").alias("chg"))

    return _propagate(sym, state, step, max_rounds)
