"""Sweep cut: turn a PPR vector into a local community with a conductance
guarantee.

The second half of Andersen-Chung-Lang ("Local Graph Partitioning using
PageRank Vectors", FOCS 2006): given an (approximate) personalized
PageRank vector p from :func:`pagerank_spark.operators.ppr_push.ppr_push`,
order its support by the degree-normalized score p(v)/d(v) and sweep the
prefixes S_1 ⊂ S_2 ⊂ … — one of them is a community around the seed with
conductance within O(√) of the best local cut (ACL Thm 5). The sweep is
scored on the UNDIRECTED simple graph, the same convention as
:func:`pagerank_spark.operators.community.conductance`:

    φ(S_k) = cut(S_k) / min(vol(S_k), 2m − vol(S_k))

Reference parity: the CUDA reference stops at the rank vector
(kernel_bblock.cu:949-1085 emits ranks only); sweep-cut is the canonical
downstream consumer of a personalized vector, part of the §2.9 local-graph
family (ppr_push, ppr_batch).

Scale shape (10^12 edges): the undirected projection and degree counts
are one exchange each (map-side combinable). Everything AFTER that runs
on the PUSH SUPPORT, whose size is bounded by 1/(eps·alpha) — a property
of the push, independent of graph size — so the two ordered windows
(volume prefix sum, cut prefix sum) run over a provably small set; the
cut curve itself is a difference array (+1 where an edge enters the
sweep, −1 where it leaves), NOT a per-prefix membership join, so edges
are touched once. Edges with neither endpoint in the support never enter
the sweep state at all.

Determinism: the sweep order is (round(p/d, 8) DESC, id) — the rounding
makes the order a total one any engine reproduces from p values that
agree to 8 decimals, and the DuckDB oracle in __spark_entry__.py replays
the identical key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import LinkGraph, simple_edges

# prefix ranks are row_numbers >= 1; this stands in for "endpoint not in
# the support" so least/greatest fold NULLs away without special cases
_INF_RANK = 2**31 - 1


def sweep_cut(graph: LinkGraph, scores: DataFrame,
              score_col: str = "p") -> DataFrame:
    """Conductance sweep of ``scores (id, p)`` over ``graph``.

    Returns one row per sweep prefix, ordered by ``k``::

        (k, id, p, d, volume, cut, conductance)

    where row k describes S_k = the first k support vertices in
    (p/d desc, id) order: ``id``/``p``/``d`` are the k-th vertex joining
    the set, ``volume``/``cut``/``conductance`` score the whole prefix.
    The best local community is the argmin-conductance prefix; callers
    take ``min`` over the (small) result. Vertices with p <= 0 are not
    part of the sweep; isolated support vertices rank by p/1 and add no
    volume.
    """
    p = F.col(score_col)
    und = simple_edges(graph.edges).localCheckpoint(eager=False)
    deg = (und.select(F.col("a").alias("id"))
           .unionByName(und.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    m2 = und.count() * 2  # total volume of the undirected simple graph

    ranked = (scores.filter(p > 0)
              .select(F.col("id"), p.alias("p"))
              .join(deg, "id", "left")
              .select("id", "p", F.coalesce("d", F.lit(0)).alias("d"),
                      F.round(p / F.greatest(F.coalesce("d", F.lit(0)),
                                             F.lit(1)), 8).alias("ratio"))
              .withColumn("k", F.row_number().over(
                  Window.orderBy(F.desc("ratio"), "id")).cast("long"))
              .localCheckpoint(eager=False))

    # difference array over prefix index k: an undirected edge (a, b) with
    # support ranks ra <= rb is cut exactly for prefixes ra <= k < rb
    # (rb = +inf when b is outside the support: cut forever once a joins)
    ra = ranked.select(F.col("id").alias("a"), F.col("k").alias("ka"))
    rb = ranked.select(F.col("id").alias("b"), F.col("k").alias("kb"))
    spans = (und.join(ra, "a", "left").join(rb, "b", "left")
             .select(F.least(F.coalesce("ka", F.lit(_INF_RANK)),
                             F.coalesce("kb", F.lit(_INF_RANK))).alias("lo"),
                     F.greatest(F.coalesce("ka", F.lit(_INF_RANK)),
                                F.coalesce("kb", F.lit(_INF_RANK))).alias("hi"))
             .filter(F.col("lo") < _INF_RANK))
    deltas = (spans.select(F.col("lo").alias("k"), F.lit(1).alias("dlt"))
              .unionByName(spans.filter(F.col("hi") < _INF_RANK)
                           .select(F.col("hi").alias("k"),
                                   F.lit(-1).alias("dlt")))
              .groupBy("k").agg(F.sum("dlt").alias("dlt")))

    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    sw = (ranked.join(deltas, "k", "left")
          .select("k", "id", "p", "d",
                  F.sum("d").over(w).alias("volume"),
                  F.sum(F.coalesce("dlt", F.lit(0))).over(w).alias("cut")))
    denom = F.least(F.col("volume"), F.lit(m2) - F.col("volume"))
    return sw.select(
        "k", "id", F.round("p", 8).alias("p"), "d", "volume", "cut",
        F.round(F.when(denom <= 0, F.lit(0.0))
                .otherwise(F.col("cut") / denom.cast("double")), 6)
        .alias("conductance")).orderBy("k")
