"""Partition quality: Newman-Girvan modularity of a vertex labelling.

Companion to ``labelprop.py`` (the engine's community detector, mandated by
the north rule): modularity Q scores ANY (id, label) partition of the
undirected simple graph — Newman & Girvan, "Finding and evaluating
community structure in networks", Phys. Rev. E 69 (2004):

    Q = Σ_c [ e_c/m  -  (d_c / 2m)^2 ]

with m = #undirected simple edges, e_c = #intra-community edges of c, and
d_c = Σ degrees in c. A crawl pipeline runs this after every LP/community
pass to decide whether the labels are worth acting on (Q near 0 = no
structure).

Numeric discipline (the repo rule): every sum is an exact integer —
intra-edge count, per-community degree sums, and Σ d_c² accumulate in
BIGINT / DECIMAL(38,0), order-independent — and only the final closed form
touches doubles, as ``intra/m − Σd_c² / ((4·m)·m)`` with the same
expression shape the SQL oracle uses, so the value hash matches across
engines.

Scale shape: one labels⋈edges join per endpoint (the J1 equi-join shape),
one degree aggregate, one per-label aggregate (labels are the grouping
key — at most V groups, map-side partials collapse them), and a 1-row
projection. Nothing exceeds the PageRank superstep's shuffle volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges

_DEC = "decimal(38,0)"


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One row: (m_edges, intra_edges, modularity) for the partition
    ``labels (id, label)`` over the undirected simple graph of ``edges``.

    Vertices missing from ``labels`` form implicit singleton communities
    (their label defaults to their own id)."""
    s = simple_edges(edges).localCheckpoint(eager=True)
    lab = labels.select("id", "label")
    la = s.join(lab.withColumnRenamed("id", "a"), "a", "left") \
          .withColumnRenamed("label", "la")
    lb = la.join(lab.withColumnRenamed("id", "b")
                 .withColumnRenamed("label", "lb"), "b", "left")
    both = lb.select(
        F.coalesce("la", F.col("a")).alias("la"),
        F.coalesce("lb", F.col("b")).alias("lb"))
    m_intra = both.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("la") == F.col("lb")).cast("long")).alias("intra"))

    sym = s.select(F.col("a").alias("id")).unionAll(
        s.select(F.col("b").alias("id")))
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    dc = (deg.join(lab, "id", "left")
          .select(F.coalesce("label", F.col("id")).alias("label"), "d")
          .groupBy("label").agg(F.sum(F.col("d").cast(_DEC)).alias("dc")))
    dc2 = dc.agg(F.sum((F.col("dc") * F.col("dc")).cast(_DEC)).alias("dc2"))

    m = F.col("m").cast("double")
    q = (F.col("intra").cast("double") / m
         - F.col("dc2").cast("double") / ((F.lit(4.0) * m) * m))
    return m_intra.crossJoin(dc2).select(
        F.col("m").alias("m_edges"),
        F.coalesce("intra", F.lit(0)).alias("intra_edges"),
        F.when(F.col("m") > 0, q).otherwise(F.lit(0.0)).alias("modularity"))


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance of the partition ``labels (id, label)``
    over the undirected simple graph of ``edges``:

        φ(c) = cut(c) / min(vol(c), 2m − vol(c))

    with vol(c) = Σ degrees in c and cut(c) = #edges with exactly one
    endpoint in c (Kannan, Vempala, Vetta, "On clusterings: good, bad and
    spectral", JACM 2004). The per-community twin of :func:`modularity`:
    modularity scores the whole partition, conductance flags WHICH
    communities leak. Returns ``(label, n_vertices, volume, cut,
    conductance)``; φ = 0.0 for a community spanning the whole volume.
    Vertices missing from ``labels`` default to singleton communities.

    Numeric discipline: degree/cut/volume sums are exact BIGINTs; the one
    double division happens in the final projection (same shape as the
    SQL oracle). Scale: two label equi-joins + three hash aggregates
    keyed by label — map-side partials collapse each community.
    """
    s = simple_edges(edges).localCheckpoint(eager=True)
    lab = labels.select("id", "label")
    tagged = (
        s.join(lab.withColumnRenamed("id", "a")
               .withColumnRenamed("label", "la"), "a", "left")
        .join(lab.withColumnRenamed("id", "b")
              .withColumnRenamed("label", "lb"), "b", "left")
        .select(F.coalesce("la", F.col("a")).alias("la"),
                F.coalesce("lb", F.col("b")).alias("lb"))
        .localCheckpoint(eager=True)
    )
    m2 = tagged.count() * 2  # total volume = 2m
    cut = (
        tagged.filter(F.col("la") != F.col("lb"))
        .select(F.explode(F.array("la", "lb")).alias("label"))
        .groupBy("label").agg(F.count(F.lit(1)).alias("cut")))
    vol = (
        tagged.select(F.explode(F.array("la", "lb")).alias("label"))
        .groupBy("label").agg(F.count(F.lit(1)).alias("volume")))
    verts = (
        s.select(F.col("a").alias("id"))
        .unionByName(s.select(F.col("b").alias("id"))).distinct()
        .join(lab, "id", "left")
        .select(F.coalesce("label", F.col("id")).alias("label"))
        .groupBy("label").agg(F.count(F.lit(1)).alias("n_vertices")))
    joined = (verts.join(vol, "label", "left").join(cut, "label", "left")
              .select("label", "n_vertices",
                      F.coalesce("volume", F.lit(0)).alias("volume"),
                      F.coalesce("cut", F.lit(0)).alias("cut")))
    denom = F.least(F.col("volume"), F.lit(m2) - F.col("volume"))
    return joined.select(
        "label", "n_vertices", "volume", "cut",
        F.when(denom <= 0, F.lit(0.0))
        .otherwise(F.col("cut") / denom.cast("double"))
        .alias("conductance"))
