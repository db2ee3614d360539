"""Graph construction: pages -> edges -> weighted, degree-aware link graph.

This is the DataFrame re-expression of the reference's load path
(``getInputResultForCsc``, /root/reference/kernel_bblock.cu:567-619):

  reference CSC arrays                  -> this module
  ------------------------------------    ----------------------------------
  destination_offsets/source_indices      ``edges(src, dst, w)`` persisted
                                          hash-partitioned by ``src`` (the
                                          per-iteration join key) so the big
                                          table never re-shuffles
  weights_h[e] = 1/out_deg(src)           P1 weight projection at build time
  bookmark_h (dangling flag)              ``is_dangling`` column on vertices
  degree bins g1/g2                       in-degree stats -> salt fan-out map

Vertex ids: a dense, deterministic url->long dictionary built entirely
JVM-side — range-partition + sort by url, then global id = broadcast
per-partition offset + row-number-within-partition recovered from
``monotonically_increasing_id``'s (partition, row) bit layout. No RDD, no
Python serialization of the url universe, no single-partition window. Ids
are an internal detail, exactly as the reference's 1->0 index shift is
(load-time-only there too, /root/reference/kernel_bblock.cu:590-592).

Extract once: the reference parses its edge list exactly once, and so does
``edges_from_pages``. The per-page ``(src_url, outs)`` frame is persisted
*before* it is exploded. Left lazy, every scan of the edges (the url
dictionary, the two id joins, the degree and weight passes) would re-run
the ``extract_outlinks`` UDF, and each scan would run it twice: Catalyst's
``InferFiltersFromGenerate`` adds ``size(outs) > 0 AND isnotnull(outs)``
below the ``explode``, and that filter reads the UDF column, so a second
``ArrowEvalPython`` node is planted under it. Over the cache the inferred
filter reads the ``InMemoryRelation`` instead. The id edge table built from
it is pinned once, the UDF cache is freed, and ``build_graph`` reads cached
longs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pagerank_spark.functions.extract import extract_outlinks


def url_id_dictionary(urls: DataFrame, partitions: int | None = None) -> DataFrame:
    """Deterministic dense id per distinct url, fully JVM-side.

    Returns ``(url string, id long)`` with ids 0..n-1 in global sorted-url
    order. Dense ids keep downstream shuffle keys 8 bytes and make rank
    vectors addressable exactly like the reference's vertex-indexed arrays.

    Physical recipe (scales: the url universe never leaves the executors):
      1. distinct urls, range-partitioned + sorted by url, persisted —
         partition p holds a contiguous sorted slice of the url space;
      2. one tiny aggregate collects per-partition row counts (O(P) to the
         driver) -> cumulative offsets, broadcast back as a P-row join;
      3. ``monotonically_increasing_id`` over the SAME cached layout packs
         (partition_id << 33) | row_in_partition; unpacking it and adding
         the partition's offset yields the global sorted position — no
         second sort, no window over a single partition, no Python.
    Requires < 2^33 rows per partition (the mid bit layout), which the
    range partitioning guarantees by construction at any sane P.
    """
    spark = urls.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        urls.select("url").distinct()
        .repartitionByRange(partitions, "url")
        .sortWithinPartitions("url")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = (
        d.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r.pid):
        offsets.append((r.pid, acc))
        acc += r.cnt
    offsets_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, offset long")
    mid = F.monotonically_increasing_id()
    out = (
        d.select(
            "url",
            F.shiftrightunsigned(mid, 33).cast("int").alias("pid"),
            mid.bitwiseAND(F.lit((1 << 33) - 1)).alias("row_in_part"),
        )
        .join(F.broadcast(offsets_df), "pid")
        .select("url", (F.col("offset") + F.col("row_in_part")).alias("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()  # pin the id assignment before releasing the sorted layout
    d.unpersist()
    return out


def edges_from_pages(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """pages -> (edges(src,dst) long, url_dict(url,id)).

    Outlinks come from the vectorized ``extract_outlinks`` pandas UDF, run
    once per page; the vertex universe is crawled urls UNION link-target
    urls (targets outside the crawl become dangling vertices, like SNAP ids
    with no out-edges).

    Both returned frames are persisted and materialized, and the caller owns
    them: unpersist them once consumed. The edges can go as soon as
    ``build_graph`` returns, since it materializes its own tables.
    """
    outs = (
        pages.select(F.col("url").alias("src_url"),
                     extract_outlinks(F.col("html")).alias("outs"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    raw = outs.select("src_url", F.explode("outs").alias("dst_url"))
    urls = (
        outs.select(F.col("src_url").alias("url"))
        .unionByName(raw.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    d = url_id_dictionary(urls)
    edges = (
        raw.join(d.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src"),
                 "src_url")
        .join(d.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"),
              "dst_url")
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()  # pin the id edges before the UDF output they are built from
    outs.unpersist()
    return edges, d


@dataclass
class LinkGraph:
    """The engine's materialized graph state, all persisted DataFrames."""

    edges: DataFrame        # (src, dst, w double) — partitioned by src, cached
    vertices: DataFrame     # (id, out_deg, in_deg, is_dangling) — cached
    n_vertices: int
    n_edges: int
    url_dict: DataFrame | None = None  # (url, id) when built from pages

    def unpersist(self) -> None:
        self.edges.unpersist()
        self.vertices.unpersist()
        if self.url_dict is not None:
            self.url_dict.unpersist()  # no-op if not cached


def build_graph(
    spark: SparkSession,
    edges: DataFrame,
    n_vertices: int | None = None,
    url_dict: DataFrame | None = None,
    edge_partitions: int | None = None,
    universe: DataFrame | None = None,
) -> LinkGraph:
    """Materialize the weighted, degree-annotated graph from raw (src,dst).

    * out/in-degree (A1, /root/reference/kernel_bblock.cu:588-598) count
      edge multiplicity — duplicate edges add transition weight, matching
      the reference's one-line-per-edge accumulation.
    * transition weight w = 1/out_deg(src) folded in at build time
      (P1, /root/reference/kernel_bblock.cu:613) so the iteration loop
      never recomputes it.
    * ``is_dangling`` = no out-edges (P2 bookmark vector,
      /root/reference/kernel_bblock.cu:606-609).
    * ``n_vertices``: pass the id-space size when vertices exist with no
      edges at all (isolated); default = ids seen in the edge table. When
      given, the universe is ``spark.range(n_vertices)`` — dense-id contract.
    * pre-weighted input: if ``edges`` carries a ``w`` column, transition
      weights are |w| row-sum-normalized per source instead of 1/out_deg —
      P9, the lightSpMV weighted/Matrix-Market path
      (/root/reference/lightSpMV/PageRank.h:256-274: fabs + rowSum divide).
      Dangling semantics are unchanged (no out-edges at all).
    """
    if edge_partitions is None:
        edge_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    raw_edges = edges
    if "w" in edges.columns:
        # P9 guard: NULL / zero weights would otherwise make wsum 0 (or
        # silently drop rows from it) and 0/0 = NaN poisons every
        # downstream rank while L1 never converges. A zero-weight edge
        # carries no transition probability — drop it BEFORE degrees are
        # counted, so a source whose edges are all |w|=0/NULL has no
        # effective out-edges and is correctly flagged dangling (the
        # default vertex universe still comes from the RAW edge list, so
        # such a vertex stays in the graph as a dangling one).
        edges = edges.filter(F.col("w").isNotNull() & (F.abs("w") > 0))

    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_deg"))

    if universe is not None:
        universe = universe.select("id")
    elif n_vertices is not None:
        universe = spark.range(n_vertices).select(F.col("id"))
    else:
        universe = (
            raw_edges.select(F.col("src").alias("id"))
            .unionByName(raw_edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    vertices = (
        universe.join(out_deg.withColumnRenamed("src", "id"), "id", "left")
        .join(in_deg.withColumnRenamed("dst", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) == 0).alias("is_dangling"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if "w" in edges.columns:
        # P9: |w| / row-sum per source (lightSpMV PageRank.h:256-274)
        wsum = edges.groupBy("src").agg(F.sum(F.abs("w")).alias("wsum"))
        normalized = (
            edges.join(wsum.hint("shuffle_hash"), "src")
            .select("src", "dst", (F.abs("w") / F.col("wsum")).alias("w"))
        )
    else:
        # shuffle_hash on the degree side: both inputs are E-scale or
        # V-scale; without the hint Catalyst's pre-explode cardinality
        # estimates can pick a broadcast of the EDGE side (observed: a
        # 2 GiB broadcast of an exploded edge table). Hash-building the
        # V-sized degree table per partition is the plan that survives any
        # scale-up.
        normalized = (
            edges.join(out_deg.hint("shuffle_hash"), "src")
            .select("src", "dst", (F.lit(1.0) / F.col("out_deg")).alias("w"))
        )

    weighted = (
        normalized
        # CSC-analogue layout: partition by the per-iteration join key so the
        # edge table is shuffled ONCE here and never again; sort within
        # partitions for scan locality (the reference's grouped-by-key
        # adjacency, kernel_bblock.cu:601-618).
        .repartition(edge_partitions, "src")
        .sortWithinPartitions("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    n_edges = weighted.count()  # also materializes the cache
    n = vertices.count()
    return LinkGraph(edges=weighted, vertices=vertices, n_vertices=n,
                     n_edges=n_edges, url_dict=url_dict)


def graph_from_pages(spark: SparkSession, pages: DataFrame,
                     edge_partitions: int | None = None) -> LinkGraph:
    edges, d = edges_from_pages(pages)
    # vertex universe = the full url dictionary: an isolated page (no in- or
    # out-links) still holds rank mass, exactly as the reference's id space
    # 0..n-1 includes unreferenced vertices.
    g = build_graph(spark, edges, url_dict=d, edge_partitions=edge_partitions,
                    universe=d.select("id"))
    edges.unpersist()
    return g


def simple_edges(edges: DataFrame) -> DataFrame:
    """The undirected simple graph of a (src, dst) edge table: ``(a, b)``
    with a < b, self-loops dropped, duplicates and reversed pairs merged."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def symmetric_edges(simple: DataFrame, *carry: str) -> DataFrame:
    """Both directions ``(src, dst, *carry)`` of a simple ``(a, b)`` edge set."""
    return simple.select(F.col("a").alias("src"), F.col("b").alias("dst"), *carry).unionAll(
        simple.select(F.col("b").alias("src"), F.col("a").alias("dst"), *carry))


# ---------------------------------------------------------------------------
# Skew analysis: degree histogram -> hot-vertex salt fan-out.
# The DataFrame analogue of the reference's degree binning + small/large
# kernel split (binary_resort/trans_to_b, kernel_bblock.cu:622-692): instead
# of routing hot vertices to dedicated thread blocks, we give each hot
# destination a salt fan-out so its partial sums spread over `fanout`
# reducers before the final combine (the two-level reduction of
# child_kernal, kernel_acsr.cu:93-120).
# ---------------------------------------------------------------------------


def degree_bins(vertices: DataFrame) -> DataFrame:
    """Reference binning K1 (kernel_bblock.cu:636): bin 0 for in_deg 0,
    else (int)log2(in_deg - 0.1) + 1 capped at 13. The cast truncates
    TOWARD ZERO (C semantics): for in_deg = 1, log2(0.9) ≈ -0.15
    truncates to 0 → bin 1; floor() would give bin 0 and lump the most
    populous degree class of a power-law graph in with the no-in-edge
    bin."""
    return vertices.withColumn(
        "bin",
        F.when(F.col("in_deg") == 0, F.lit(0)).otherwise(
            F.least(F.log2(F.col("in_deg") - 0.1).cast("long") + 1, F.lit(13))
        ).cast("int"),
    )


def hot_vertex_salts(vertices: DataFrame, hot_threshold: int = 100_000,
                     target_bucket: int = 50_000) -> DataFrame:
    """(id, fanout) for destinations whose in-degree exceeds the threshold.

    fanout = ceil(in_deg / target_bucket): each salted bucket sees at most
    ~target_bucket edge contributions. The table is tiny (only power-law
    head vertices) and is broadcast onto the edge table.
    """
    return (
        vertices.filter(F.col("in_deg") > hot_threshold)
        .select("id", F.ceil(F.col("in_deg") / F.lit(target_bucket)).cast("int").alias("fanout"))
    )


def salted_edges(edges: DataFrame, salts: DataFrame) -> DataFrame:
    """Attach salt = pmod(xxhash64(src), fanout) for hot dst, 0 otherwise."""
    return (
        edges.join(F.broadcast(salts.withColumnRenamed("id", "dst")), "dst", "left")
        .withColumn(
            "salt",
            F.when(F.col("fanout").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("src"), F.col("fanout")).cast("int")
            ),
        )
        .drop("fanout")
    )
