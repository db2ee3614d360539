"""Triangle counting on the undirected simple graph induced by the edge table.

Absent from the reference (SURVEY.md §2.9); mandated by the north rule.
Formulation: orient every edge along a TOTAL order on vertices, then each
triangle appears exactly once as a path a->b->c closed by the oriented edge
(a,c):

    tri = E ⋈_{b} E ⋈_{(a,c)} E

Two shuffle joins over the oriented edge set. The order is Schank-Wagner
degree ordering by default — orient from lower (degree, id) to higher — so
every vertex's oriented out-neighborhood is O(sqrt(m)) and the wedge
fan-out stays bounded on a power-law graph; id-ordering would make the
highest-degree head vertex generate O(d_max^2) wedges, precisely the skew
the reference's binned kernels exist to avoid
(/root/reference/kernel_bblock.cu:622-692). AQE skew-join splitting stays
on as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges


def _oriented(edges: DataFrame, order_by_degree: bool) -> DataFrame:
    simple = simple_edges(edges)
    if not order_by_degree:
        return simple
    # orient from lower-(degree, id) to higher-(degree, id): bounds the
    # out-neighborhood of every vertex by O(sqrt(m)) (Schank-Wagner ordering)
    sym = simple.unionAll(simple.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d")).withColumnRenamed("a", "v")
    with_deg = (
        simple.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    return with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("a"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("b"),
    )


def enumerate_triangles(edges: DataFrame, order_by_degree: bool = True) -> DataFrame:
    """(x, y, z) — one row per triangle, enumerated exactly once.

    The orientation (degree order or id order) is a total order, so for a
    path x->y->z the closing edge is necessarily oriented (x,z): no
    symmetric closing-edge union is needed, and each triangle surfaces at
    exactly its minimal-order corner."""
    e = _oriented(edges, order_by_degree).localCheckpoint(eager=True)
    return (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                F.col("e2.b").alias("z"))
        .join(e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"])
    )


def triangle_count(edges: DataFrame, order_by_degree: bool = True) -> int:
    """Total number of triangles."""
    return enumerate_triangles(edges, order_by_degree).count()


def triangles_per_vertex(edges: DataFrame, order_by_degree: bool = True) -> DataFrame:
    """(id, triangles) — number of triangles each vertex participates in.

    Triangles are enumerated once under the (degree-ordered) orientation,
    then fanned out to their three corners; the per-corner labels are the
    original vertex ids, so the result is orientation-independent."""
    tri = enumerate_triangles(edges, order_by_degree)
    corners = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))


def local_clustering_coefficient(edges: DataFrame,
                                 order_by_degree: bool = True) -> DataFrame:
    """(id, degree, triangles, lcc) over the undirected simple graph.

    lcc = 2·T(v) / (d(v)·(d(v)−1)) for d ≥ 2, else 0.0. Triangles come
    from the degree-oriented enumeration (each counted once per corner),
    degrees from the canonical simple edge set — one extra groupBy over
    O(E), joined V-to-V with the triangle counts.
    """
    simple = simple_edges(edges)
    deg = (
        simple.select(F.col("a").alias("id"))
        .unionAll(simple.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangles_per_vertex(edges, order_by_degree)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id", "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(F.lit(0.0)).alias("lcc"),
        )
    )
