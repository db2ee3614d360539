"""Graph contraction: collapse vertices under a mapping (url -> host).

The web-graph analogue of the reference's vertex re-numbering pass (ids are
shifted to a dense 0-based space at load, /root/reference/kernel_bblock.cu:590-592):
here the re-numbering is many-to-one — every url maps to its host — and the
contracted multigraph keeps link multiplicity as an edge weight, so
host-level PageRank runs through the engine's P9 explicit-weight path
(/root/reference/lightSpMV/PageRank.h:256-274) unchanged.

Scale shape: the mapping is V-scale and the edge table E-scale, so the two
re-keying joins are the same J1 gather shape as the rank join — shuffle-hash
hinted (never sort, never broadcast-the-edges). The groupBy that merges
parallel edges gets map-side partial aggregation for free. At 10^12 urls the
host universe is ~10^8 — the contracted graph is small enough that every
downstream algorithm's per-iteration cost drops by the fan-in factor, which
is exactly why crawl pipelines rank hosts first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import (
    LinkGraph,
    build_graph,
    edges_from_pages,
    url_id_dictionary,
)

# scheme://host[:port] — host is everything up to the first /, ?, or #.
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def host_of(url: Column) -> Column:
    """Registered host of a url (lowercased; '' if the url has no scheme).

    A pure JVM regexp — stays inside whole-stage codegen, no UDF."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def contract_graph(
    edges: DataFrame,
    mapping: DataFrame,
    drop_self_loops: bool = True,
) -> DataFrame:
    """Contract ``edges (src, dst [, w])`` under ``mapping (id, gid)``.

    Returns the group-level weighted edge table ``(src, dst, w)`` where
    ``w`` sums the mapped edges' weights (1.0 each when the input carries
    no ``w`` column — link multiplicity). ``drop_self_loops`` removes
    intra-group edges (a host linking to itself), the convention for
    host-rank: self-links carry no endorsement signal.

    Edges whose endpoints are missing from the mapping are dropped — the
    mapping defines the contracted universe (inner joins, like the
    reference dropping edges outside the 0..n-1 id space).
    """
    w = F.col("w") if "w" in edges.columns else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("_w"))
    m_src = mapping.select(F.col("id").alias("src"), F.col("gid").alias("gsrc"))
    m_dst = mapping.select(F.col("id").alias("dst"), F.col("gid").alias("gdst"))
    c = (
        e.join(m_src.hint("shuffle_hash"), "src")
        .join(m_dst.hint("shuffle_hash"), "dst")
    )
    if drop_self_loops:
        c = c.filter(F.col("gsrc") != F.col("gdst"))
    return (
        c.groupBy("gsrc", "gdst")
        .agg(F.sum("_w").alias("w"))
        .select(F.col("gsrc").alias("src"), F.col("gdst").alias("dst"), "w")
    )


def host_graph_from_pages(
    spark: SparkSession,
    pages: DataFrame,
    edge_partitions: int | None = None,
) -> LinkGraph:
    """pages -> host-level LinkGraph (weighted, self-links dropped).

    The host dictionary reuses the JVM-side dense-id machinery
    (``url_id_dictionary``), so host ids are 0..H-1 in sorted-host order —
    deterministic under any partitioning, like the url ids. ``url_dict``
    on the returned graph maps host -> id.
    """
    edges, d = edges_from_pages(pages)
    hosts = d.select("id", host_of(F.col("url")).alias("host"))
    hdict = url_id_dictionary(hosts.select(F.col("host").alias("url")))
    mapping = hosts.join(
        hdict.select(F.col("url").alias("host"), F.col("id").alias("gid")),
        "host",
    ).select("id", "gid")
    hedges = contract_graph(edges, mapping)
    g = build_graph(
        spark,
        hedges,
        url_dict=hdict,
        edge_partitions=edge_partitions,
        universe=hdict.select("id"),
    )
    edges.unpersist()
    d.unpersist()
    return g
