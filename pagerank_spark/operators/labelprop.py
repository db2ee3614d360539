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
symmetric edge list, count by (vertex, label), then one max_by aggregation
picking struct(count, -label) — no window function, so the round is two
shuffles on (vertex) and (vertex, label).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges, symmetric_edges
from pagerank_spark.plans.fixpoint import fixpoint, resume_point


@dataclass
class LabelPropResult:
    labels: DataFrame      # (id long, label long)
    rounds: int
    converged: bool


# vertices whose label moved this round, observed on the round's own
# materialization: one Spark job per round, not a round job plus a
# compare-join job
def _changed() -> list:
    return [F.sum("chg").alias("changed")]


def _settled(stats, _prev) -> bool:
    return not stats["changed"]


def _vertices(sym: DataFrame, universe: DataFrame | None) -> DataFrame:
    vertices = sym.select(F.col("src").alias("id")).distinct()
    if universe is not None:
        vertices = vertices.unionAll(universe.select("id")).distinct()
    return vertices


def _best(counts: DataFrame) -> DataFrame:
    """(id, new_label): the label with the largest ``c`` per vertex, ties ->
    min label — a max over struct(c, -label), no window function."""
    return counts.groupBy("id").agg(
        F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("s")
    ).select("id", (-F.col("s.nl")).alias("new_label"))


def _relabel(labels: DataFrame, best: DataFrame) -> DataFrame:
    return labels.join(best, "id", "left").select(
        "id", F.coalesce("new_label", F.col("label")).alias("label"),
        (F.col("new_label") != F.col("label")).cast("int").alias("chg"))


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
    vertices = _vertices(sym, universe).localCheckpoint(eager=True)

    start_round, labels = resume_point(checkpointer, resume)
    if labels is None:
        labels = vertices.select("id", F.col("id").alias("label"))

    def step(labels: DataFrame, _prev) -> DataFrame:
        # neighbor labels: for edge (src,dst), vertex src sees label(dst)
        neigh = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        return _relabel(labels, _best(
            neigh.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c"))))

    run = fixpoint(labels, step, _changed(), _settled, max_rounds,
                   checkpointer=checkpointer, start=start_round)
    return LabelPropResult(labels=run.state.select("id", "label"),
                           rounds=run.rounds, converged=run.converged)


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
    value-hash parity. Round shape matches ``label_propagation``: two
    hash-aggregate shuffles, no window, O(E)+O(V) state — the 100-TB plan
    is unchanged, only COUNT becomes SUM(w).
    """
    sym = symmetric_edges(
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("w"))
        .groupBy("a", "b").agg(F.sum("w").alias("w")), "w"
    ).localCheckpoint(eager=True)
    vertices = _vertices(sym, universe).localCheckpoint(eager=True)

    def step(labels: DataFrame, _prev) -> DataFrame:
        neigh = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label", "w")
        return _relabel(labels, _best(
            neigh.groupBy("id", "label").agg(F.sum("w").alias("c"))))

    run = fixpoint(vertices.select("id", F.col("id").alias("label")), step,
                   _changed(), _settled, max_rounds)
    return LabelPropResult(labels=run.state.select("id", "label"),
                           rounds=run.rounds, converged=run.converged)


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

    Same round shape as ``label_propagation`` (two shuffles, no window);
    the only additions are a labeled-neighbor filter and the pinned-seed
    coalesce. Unreached vertices return ``label = NULL``.
    """
    sym = symmetric_edges(simple_edges(edges)).localCheckpoint(eager=True)
    seed_tbl = seeds.select("id", F.col("label").cast("long").alias("seed_label"))
    state = (_vertices(sym, universe).join(seed_tbl, "id", "left")
             .select("id", F.col("seed_label").alias("label"), "seed_label")
             .localCheckpoint(eager=True))

    def step(state: DataFrame, _prev) -> DataFrame:
        neigh = sym.join(
            state.filter(F.col("label").isNotNull())
            .select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        best = _best(neigh.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c")))
        label = F.coalesce("seed_label", "new_label", "label")
        return state.join(best, "id", "left").select(
            "id", label.alias("label"), "seed_label",
            (~label.eqNullSafe(F.col("label"))).cast("int").alias("chg"))

    run = fixpoint(state, step, _changed(), _settled, max_rounds)
    return LabelPropResult(labels=run.state.select("id", "label"),
                           rounds=run.rounds, converged=run.converged)
