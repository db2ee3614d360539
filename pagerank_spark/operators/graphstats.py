"""Whole-graph structural statistics over the edge table.

Companion analytics to the degree machinery of SURVEY.md §2.3 (the
reference's A1 degree counts, /root/reference/kernel_bblock.cu:588-598):
one-pass aggregates that summarize the graph a crawl produced — the
numbers an operator looks at before deciding partitioning and salting.

Numeric discipline: all moment sums accumulate in DECIMAL(38,0) from
integer degrees (exact, order-independent — the same trick the engine's
money aggregates use), and only the final closed-form statistic is
evaluated in double. That makes the result bit-stable across partitionings
and engines, so it can be value-hash-checked against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.graph import simple_edges

_DEC = "decimal(38,0)"


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Directed degree assortativity: Pearson correlation, over every edge
    (u, v) of the multigraph, between out_deg(u) and in_deg(v).

    Positive: high-fanout pages link to popular pages (hub cliques);
    negative: hubs link to the long tail. One edge-scale join pass + one
    six-way exact aggregate; the O(1) closed form runs on the driver side
    of the plan (a 1-row projection), never touching the edge table again.
    """
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    in_deg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    pairs = (
        edges.join(out_deg.hint("shuffle_hash"), "src")
        .join(in_deg.hint("shuffle_hash"), "dst")
        .select("x", "y")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast(_DEC).alias("m"),
        F.sum(F.col("x").cast(_DEC)).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).alias("syy"),
    )
    m, sx, sy = F.col("m").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col("sxy").cast("double"), F.col("sxx").cast("double"),
                     F.col("syy").cast("double"))
    cov = m * sxy - sx * sy
    vx = m * sxx - sx * sx
    vy = m * syy - sy * sy
    return sums.select(
        F.col("m").cast("long").alias("m_edges"),
        (cov / F.sqrt(vx * vy)).alias("assortativity"),
    )


def avg_neighbor_degree(edges: DataFrame) -> DataFrame:
    """(id, nbr_cnt, nbr_deg_sum, avg_nbr_deg) per vertex with >= 1
    out-edge: the mean OUT-degree of its distinct out-neighbors — the
    per-vertex knn curve behind the assortativity scalar (Pastor-Satorras,
    Vazquez & Vespignani, PRL 2001), read next to it when picking salting
    thresholds.

    Exact integers (count + BIGINT sum, order-independent) plus ONE final
    division. Plan: one degree aggregate, one edges⋈degrees equi-join
    (J1 shape, shuffle-hash), one per-src aggregate with map-side
    partials — never more state than the PageRank contribution sum.
    Dangling out-neighbors contribute degree 0 (they have no out-edges).
    """
    d = (edges.filter(F.col("src") != F.col("dst"))
         .select("src", "dst").distinct()
         .localCheckpoint(eager=True))  # degree agg + join read one scan
    deg = d.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d"))
    return (
        d.join(deg.withColumnRenamed("v", "dst").hint("shuffle_hash"),
               "dst", "left")
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("nbr_cnt"),
             F.sum(F.coalesce("d", F.lit(0))).alias("nbr_deg_sum"))
        .select("id", "nbr_cnt", "nbr_deg_sum",
                (F.col("nbr_deg_sum") / F.col("nbr_cnt"))
                .alias("avg_nbr_deg"))
    )


def degree_distribution(edges: DataFrame,
                        universe: DataFrame | None = None) -> DataFrame:
    """(deg, n_vertices, cum_ge) — the out-degree histogram plus the
    descending cumulative count (#vertices with out-degree >= deg), i.e.
    the integer CCDF a crawl operator reads to size salting thresholds
    and spot the power-law head. ``universe`` adds zero-out-degree
    (dangling) vertices to the deg=0 bucket.

    All integers, no floats anywhere. The cumulative window runs over ONE
    partition of AT MOST #distinct-degree-values rows (O(sqrt(E)) on any
    graph — a few thousand at 10^12 edges), strictly after the V-scale
    degree aggregate has collapsed the data; that single-task step is
    deliberate and bounded, not a skew hazard.
    """
    deg = (edges.filter(F.col("src") != F.col("dst"))
           .select("src", "dst").distinct()
           .groupBy(F.col("src").alias("id"))
           .agg(F.count(F.lit(1)).alias("deg")))
    if universe is not None:
        deg = (universe.select("id").distinct()
               .join(deg, "id", "left")
               .select("id", F.coalesce("deg", F.lit(0)).alias("deg")))
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_vertices"))
    w = (Window.orderBy(F.desc("deg"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return hist.select("deg", "n_vertices",
                       F.sum("n_vertices").over(w).alias("cum_ge"))


def reciprocity(edges: DataFrame) -> DataFrame:
    """Link reciprocity of the simple directed graph: the fraction of
    distinct non-loop edges (u, v) whose reverse (v, u) is also present.

    High reciprocity means mutual-linking cliques (blog rings, mirror
    farms); crawl-quality pipelines read it next to assortativity before
    choosing salting thresholds. One distinct + one self-semi-join, both
    shuffling on the same (src, dst) pair — the second shuffle is the
    reversed key, unavoidable for any reverse-edge lookup. The ratio is
    exact (two BIGINT counts, divided once at the end).
    """
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # both counts read one materialization
    )
    rec = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "leftsemi",
    )
    m = e.agg(F.count(F.lit(1)).alias("m")).select("m")
    r = rec.agg(F.count(F.lit(1)).alias("r")).select("r")
    return m.crossJoin(r).select(
        F.col("m").alias("m_edges"),
        F.col("r").alias("m_reciprocated"),
        (F.col("r") / F.col("m")).alias("reciprocity"),
    )


def degree_quantiles(edges: DataFrame, universe: DataFrame | None = None,
                     probs: tuple[float, ...] = (0.5, 0.9, 0.99)) -> DataFrame:
    """One-row exact out/in-degree quantile + max summary — the skew
    numbers that size the engine's salting threshold and partition counts
    (K2/K4). Linear-interpolated exact percentiles (Spark ``percentile``
    == DuckDB ``quantile_cont``), so the row is oracle-checkable.

    Scale: two V-scale degree aggregates; the percentile aggregate's
    state is O(distinct degree values) <= max degree — bounded by page
    size on the out side of the webtext tier.
    """
    e = edges.select("src", "dst")
    if universe is None:
        universe = (e.select(F.col("src").alias("id"))
                    .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    else:
        universe = universe.select("id")
    od = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("od"))
    idg = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("idg"))
    degs = (universe.join(od, "id", "left").join(idg, "id", "left")
            .select(F.coalesce("od", F.lit(0)).alias("od"),
                    F.coalesce("idg", F.lit(0)).alias("idg")))
    aggs = []
    for col in ("od", "idg"):
        side = "out" if col == "od" else "in"
        for p in probs:
            tag = f"p{round(p * 100)}"
            aggs.append(F.round(F.percentile(F.col(col), F.lit(p)), 6)
                        .alias(f"{side}_{tag}"))
        aggs.append(F.max(col).alias(f"{side}_max"))
    return degs.agg(*aggs)


def gamma_compression_estimate(edges: DataFrame) -> DataFrame:
    """Estimated Elias-γ cost of the successor lists, per log2-out-degree
    bin — the storage model of the WebGraph framework (Boldi & Vigna,
    "The WebGraph Framework I: Compression Techniques", WWW 2004): each
    src's DISTINCT successors are sorted and gap-encoded (head gap =
    dst+1, then consecutive differences), and every gap g >= 1 costs
    ``2*floor(log2(g)) + 1`` bits under the γ code. (The real codec adds
    reference-copying and interval blocks on top; the γ-gap bound is the
    standard first-order estimate of how compressible a crawl's link
    structure is — locality-renumbered graphs show small gaps here.)

    Returns one row per bin ``(bin, n_lists, n_edges, gamma_bits,
    bits_per_edge)`` with bin = floor(log2(out_deg)); all bit counts are
    exact integers (γ length is integer arithmetic on integer gaps — the
    one log2 is evaluated on exact powers-of-two boundaries only at
    integer inputs, identical in any IEEE engine), so the whole table is
    hash-checkable; the single double, bits_per_edge, is a final-projection
    division rounded to 6.

    Scale shape: one distinct pass, then ONE per-src window (lag over the
    dst sort — gap encoding is inherently sequential per list) and one
    binned hash aggregate. A mega-hub makes its list a single window task;
    that is the adjacency_index shape, and the degree-adaptive banded
    rewrite recorded in walks.py:34-130 applies verbatim if a profiled
    input needs it (gaps are band-local except one boundary join).
    """
    d = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    gaps = d.select(
        "src",
        F.coalesce(F.col("dst") - F.lag("dst").over(w),
                   F.col("dst") + F.lit(1)).alias("gap"))
    per_src = gaps.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(F.lit(2) * F.floor(F.log2("gap")).cast("long") + F.lit(1))
        .alias("bits"))
    return (per_src
            .select(F.floor(F.log2("deg")).cast("int").alias("bin"),
                    "deg", "bits")
            .groupBy("bin").agg(
                F.count(F.lit(1)).alias("n_lists"),
                F.sum("deg").alias("n_edges"),
                F.sum("bits").alias("gamma_bits"))
            .select("bin", "n_lists", "n_edges", "gamma_bits",
                    F.round(F.col("gamma_bits")
                            / F.col("n_edges").cast("double"), 6)
                    .alias("bits_per_edge"))
            .orderBy("bin"))


def powerlaw_tail_fit(edges: DataFrame, dmin: int = 5) -> DataFrame:
    """Hill / continuous-MLE power-law exponent of the degree tails
    (Clauset, Shalizi, Newman, "Power-law distributions in empirical
    data", SIAM Review 2009, eq. 3.1):

        alpha = 1 + n_tail / Σ_{d >= dmin} ln( d / (dmin - 0.5) )

    fitted separately to the in- and out-degree distributions of the
    multigraph. Web-crawl degree tails are the canonical power law
    (alpha ~ 2.1 in-degree on the 2001 web) and the exponent decides
    whether hub-salting is worth wiring in. Returns
    ``(deg_type, dmin, n_tail, alpha)``, alpha rounded to 6 (0.0 when the
    tail is empty or degenerate). The ln-sum is aggregated over the
    DISTINCT-degree histogram (cnt · ln d), so the double reduction runs
    over at most #distinct-degrees terms, not n_tail.
    """
    if dmin < 2:
        raise ValueError(f"dmin must be >= 2 (needs dmin - 0.5 > 1): {dmin}")
    out = []
    for deg_type, key in (("in", "dst"), ("out", "src")):
        hist = (edges.groupBy(F.col(key).alias("id"))
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= dmin)
                .groupBy("d").agg(F.count(F.lit(1)).alias("cnt")))
        out.append(hist.agg(
            F.lit(deg_type).alias("deg_type"),
            F.lit(dmin).alias("dmin"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_tail"),
            F.coalesce(F.sum(F.col("cnt")
                             * F.log(F.col("d") / F.lit(dmin - 0.5))),
                       F.lit(0.0)).alias("lnsum")))
    both = out[0].unionByName(out[1])
    return both.select(
        "deg_type", "dmin", "n_tail",
        F.round(F.when(F.col("lnsum") > 0,
                       F.lit(1.0) + F.col("n_tail") / F.col("lnsum"))
                .otherwise(F.lit(0.0)), 6).alias("alpha")).orderBy("deg_type")


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club coefficient curve (Zhou & Mondragon, IEEE Comm. Lett.
    2004): for each degree threshold k, phi(k) = 2*E_k / (N_k*(N_k-1))
    where N_k counts vertices of undirected simple degree > k and E_k the
    edges with BOTH endpoints above k — "do the hubs link to each other
    more than random?" (web graphs famously do; the normalized variant of
    Colizza et al. 2006 additionally divides by a degree-preserving
    rewired null model, which needs a randomized reference graph and is
    out of scope here — documented, not hidden).

    Returns ``(k, n_rich, e_rich, phi)`` at every threshold where the
    curve can change value and N_k >= 2 — i.e. k in {d - 1 : d a distinct
    degree} — phi rounded to 6 dp.

    Scale shape — ONE pass, no per-k iteration: an edge survives
    threshold k iff min(deg_a, deg_b) > k and a vertex iff deg > k, so
    the whole curve falls out of two HISTOGRAMS (vertex degrees; per-edge
    min endpoint degree) suffix-summed with a window over
    distinct-degree-count rows (degree-distribution-sized, ~O(sqrt E) in
    practice — the same frame degree_distribution already materializes).
    The only E-scale work is the simple-graph projection, one degree
    aggregate, and one J1-shaped degree join per endpoint.
    """
    s = simple_edges(edges)
    deg = (s.select(F.col("a").alias("id"))
           .unionAll(s.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    vh = deg.groupBy("d").agg(F.count(F.lit(1)).alias("nv"))
    em = (s.join(deg.select(F.col("id").alias("a"),
                            F.col("d").alias("da")), "a")
          .join(deg.select(F.col("id").alias("b"),
                           F.col("d").alias("db")), "b")
          .select(F.least("da", "db").alias("d"))
          .groupBy("d").agg(F.count(F.lit(1)).alias("ne")))
    # suffix sums over the merged distinct-degree frame: N_k / E_k for
    # k = d - 1 are the totals at degrees >= d
    h = (vh.join(em, "d", "full")
         .select("d", F.coalesce("nv", F.lit(0)).alias("nv"),
                 F.coalesce("ne", F.lit(0)).alias("ne")))
    w = Window.orderBy(F.desc("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    curve = h.select(
        (F.col("d") - 1).alias("k"),
        F.sum("nv").over(w).alias("n_rich"),
        F.sum("ne").over(w).alias("e_rich"))
    return (curve.filter(F.col("n_rich") >= 2)
            .select("k", "n_rich", "e_rich",
                    F.round(2.0 * F.col("e_rich")
                            / (F.col("n_rich") * (F.col("n_rich") - 1)), 6)
                    .alias("phi")))
