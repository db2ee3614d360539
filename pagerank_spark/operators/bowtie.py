"""Broder bow-tie decomposition of a directed web graph.

The classic macroscopic structure of the web (Broder et al., "Graph
structure in the Web", WWW 2000 — the Common-Crawl-scale analysis this
engine's tier targets): relative to the largest strongly connected
component (the CORE),

  * IN         — reaches the core, not reached by it
  * OUT        — reached by the core, does not reach it
  * TUBE       — on an IN ~> OUT path that bypasses the core
  * TENDRIL    — hangs off IN (forward) or into OUT (backward) without
                 touching the core
  * DISCONNECTED — everything else

Composition, not a new kernel: one SCC run (operators/scc.py, the
overlapped forward/backward hash-min) plus four frontier BFS sweeps
(operators/bfs.py) from the core / IN / OUT sets; the reference engine has
no counterpart (its scope ends at PageRank's SpMV,
/root/reference/kernel_bblock.cu:949-1085) — this is webtext-tier surface.

Scale shape: every step is a frontier join (the J1 gather shape) or a
hash aggregation; the final region pick is ONE union of tagged membership
sets -> groupBy(id) with map-side partials, then a left join against the
vertex universe — no windows, no per-vertex state beyond a tag, so the
power-law head costs nothing beyond the BFS frontiers it already joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.bfs import bfs_hops
from pagerank_spark.operators.scc import strongly_connected_components
from pagerank_spark.plans.fixpoint import release

# region tags, also the membership priority (lower wins in the final pick)
CORE, IN, OUT, FWD_OF_IN, BWD_OF_OUT = 0, 1, 2, 3, 4


@dataclass
class BowtieResult:
    regions: DataFrame   # (id long, region string) — one row per vertex
    core_label: int      # min vertex id of the largest SCC
    core_size: int
    converged: bool      # False => SCC or a BFS sweep ran out of budget;
                         # regions are then unreliable, do not consume


def bowtie_decomposition(
    edges: DataFrame,
    universe: DataFrame | None = None,
    max_hops: int = 64,
    max_scc_rounds: int = 50,
) -> BowtieResult:
    """Assign every vertex its Broder region relative to the largest SCC."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    scc = strongly_connected_components(
        e, universe=universe, max_rounds=max_scc_rounds)
    labels = scc.labels.localCheckpoint(eager=True)
    verts = labels.select("id")

    # largest SCC, deterministic tie-break on the (min-id) label
    top = (labels.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), F.asc("scc")).first())
    core_label, core_size = int(top["scc"]), int(top["n"])
    core = labels.filter(F.col("scc") == core_label).select("id") \
                 .localCheckpoint(eager=True)

    # the two sweeps of each stage share only checkpointed inputs, so
    # their job DAGs are submitted from two threads and the scheduler
    # interleaves them (the scc.py overlap discipline — each sweep's
    # shuffle waves fill the slots the other leaves idle between rounds)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fut = pool.submit(bfs_hops, e, core, max_hops)     # core ∪ OUT
        b_fut = pool.submit(bfs_hops, rev, core, max_hops)   # core ∪ IN
        fwd, bwd = f_fut.result(), b_fut.result()
    out_set = fwd.distances.select("id").join(core, "id", "left_anti") \
                 .localCheckpoint(eager=True)
    in_set = bwd.distances.select("id").join(core, "id", "left_anti") \
                .localCheckpoint(eager=True)

    # tendril/tube candidates: forward from IN, backward from OUT.
    # Seeding with the core too keeps those sweeps from re-walking it is
    # unnecessary: anything forward of IN that meets the core is already
    # in core ∪ OUT and outranked by priority in the final pick.
    with ThreadPoolExecutor(max_workers=2) as pool:
        fi_fut = pool.submit(bfs_hops, e, in_set, max_hops)
        bo_fut = pool.submit(bfs_hops, rev, out_set, max_hops)
        fwd_in, bwd_out = fi_fut.result(), bo_fut.result()
    converged = (scc.converged and fwd.exhausted and bwd.exhausted
                 and fwd_in.exhausted and bwd_out.exhausted)

    def tag(df: DataFrame, pri: int) -> DataFrame:
        return df.select("id", F.lit(pri).alias("pri"))

    members = (
        tag(core, CORE)
        .unionAll(tag(in_set, IN))
        .unionAll(tag(out_set, OUT))
        .unionAll(tag(fwd_in.distances.select("id"), FWD_OF_IN))
        .unionAll(tag(bwd_out.distances.select("id"), BWD_OF_OUT))
    )
    picked = members.groupBy("id").agg(
        F.min("pri").alias("mp"),
        F.max(F.when(F.col("pri") == FWD_OF_IN, 1).otherwise(0)).alias("f"),
        F.max(F.when(F.col("pri") == BWD_OF_OUT, 1).otherwise(0)).alias("b"),
    )
    region = (
        F.when(F.col("mp") == CORE, "CORE")
        .when(F.col("mp") == IN, "IN")
        .when(F.col("mp") == OUT, "OUT")
        .when((F.col("f") == 1) & (F.col("b") == 1), "TUBE")
        .when(F.col("mp").isNotNull(), "TENDRIL")
        .otherwise("DISCONNECTED")
    )
    # pinned so the frames it is read from can be freed
    regions = (verts.join(picked, "id", "left")
               .select("id", region.alias("region"))
               .localCheckpoint(eager=True))
    for df in (labels, core, out_set, in_set):
        release(df)
    return BowtieResult(regions=regions, core_label=core_label,
                        core_size=core_size, converged=converged)


def bowtie_sizes(res: BowtieResult) -> DataFrame:
    """Region histogram — the headline numbers of the Broder paper."""
    return res.regions.groupBy("region").agg(F.count(F.lit(1)).alias("n"))
