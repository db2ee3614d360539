"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full PageRank-to-convergence on the link graph
derived from the sf0.001 tables, returning top pages with degrees.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (plus the training-data pipeline ops). The link graph for the
graph-algorithm queries is derived DETERMINISTICALLY from the lineitem
table (src = l_partkey % 2048, dst = l_orderkey % 2048) so the Spark query
and the DuckDB oracle see byte-identical edges with no side-channel data;
partkey-as-source leaves high dst residues with no out-edges => real
dangling vertices, exercising the reference's bookmark/dangling-mass path
(/root/reference/kernel_bblock.cu:606-609,966).

Floating-point discipline for value-hash parity:
  * money/metric sums go through exact DECIMAL(18,x) accumulation on both
    engines, then CAST to DOUBLE — bit-identical regardless of row order.
  * iterative PageRank ranks are rounded at 6 decimals on the Σ=n scale
    (sum-order fp noise is ~1e-15, twelve orders below the grid).
  * every computed column is aliased identically in both engines.

Iterative algorithms get unrolled-CTE oracles (PageRank 3 supersteps,
label propagation 2 rounds) or recursive-CTE oracles (connected
components = min reachable id). As of round 3 EVERY query is oracled —
zero rows-only entries: the shared 60-bit md5 hash reproduces the
MinHash/SimHash/walk pipelines in SQL, the pandas-UDF extraction queries
unroll their expected edge/anchor lists from the F1 generative rule as
VALUES literals, and the multimodal fake decode is splitmix64 replicated
with HUGEINT-mod-2^64 arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MOD = 2048          # vertex-id space of the derived link graph
PR_ITERS = 3        # unrolled supersteps in the PageRank oracle
LP_ROUNDS = 2       # unrolled label-propagation rounds
ALPHA = 0.85        # kernel_bblock.cu:876


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic derived edge table (src, dst) — see module docstring."""
    return _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % MOD).alias("src"),
        (F.col("l_orderkey") % MOD).alias("dst"),
    )


# edge-list CTEs shared by every graph oracle (DuckDB side)
_E_SQL = f"e AS (SELECT l_partkey % {MOD} AS src, l_orderkey % {MOD} AS dst FROM lineitem)"
_U_SQL = "u AS (SELECT src AS id FROM e UNION SELECT dst FROM e)"
_OD_SQL = "od AS (SELECT src AS id, count(*) AS c FROM e GROUP BY src)"
# undirected simple graph for components / labelprop / triangles
_S_SQL = ("s AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) AS b "
          "FROM e WHERE src <> dst)")
_SYM_SQL = ("sym AS (SELECT a AS src, b AS dst FROM s "
            "UNION ALL SELECT b AS src, a AS dst FROM s)")


def _graph(spark: SparkSession, sf_dir: str):
    from pagerank_spark.operators.graph import build_graph
    return build_graph(spark, _edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# graph build queries (SURVEY §2.1-2.3: scan, degree agg A1, weight
# projection P1, dangling predicate P2/P3)
# ---------------------------------------------------------------------------


def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.vertices.select(
        "id", "out_deg", "in_deg", F.col("is_dangling").cast("int").alias("is_dangling")
    )


SQL_GRAPH_DEGREES = f"""
WITH {_E_SQL}, {_U_SQL}, {_OD_SQL},
idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst)
SELECT u.id,
       coalesce(od.c, 0) AS out_deg,
       coalesce(idg.c, 0) AS in_deg,
       CAST(coalesce(od.c, 0) = 0 AS INT) AS is_dangling
FROM u LEFT JOIN od ON od.id = u.id LEFT JOIN idg ON idg.id = u.id
"""


def q_graph_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.edges.select("src", "dst", "w")


SQL_GRAPH_EDGE_WEIGHTS = f"""
WITH {_E_SQL}, {_OD_SQL}
SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src
"""


def q_graph_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.vertices.filter("is_dangling").select("id")


SQL_GRAPH_DANGLING = f"""
WITH {_E_SQL}, {_U_SQL}, {_OD_SQL}
SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL
"""


def q_graph_degree_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 degree binning (kernel_bblock.cu:622-659): per-bin vertex counts."""
    from pagerank_spark.operators.graph import degree_bins
    g = _graph(spark, sf_dir)
    return (degree_bins(g.vertices)
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n_vertices")))


SQL_GRAPH_DEGREE_BINS = f"""
WITH {_E_SQL}, {_U_SQL},
idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst),
v AS (SELECT u.id, coalesce(idg.c, 0) AS in_deg FROM u LEFT JOIN idg ON idg.id = u.id)
SELECT CAST(CASE WHEN in_deg = 0 THEN 0
            ELSE least(CAST(trunc(log2(in_deg - 0.1)) AS BIGINT) + 1, 13) END AS INT) AS bin,
       count(*) AS n_vertices
FROM v GROUP BY 1
"""


# ---------------------------------------------------------------------------
# PageRank (SURVEY §3.1): fixed-superstep oracle + converged rows-only
# ---------------------------------------------------------------------------


def q_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators.pagerank import pagerank
    g = _graph(spark, sf_dir)
    res = pagerank(g, alpha=ALPHA, tol=None, max_iter=PR_ITERS)
    n = float(g.n_vertices)
    return res.ranks.select(
        "id", F.round(F.col("rank") * F.lit(n), 6).alias("rank_n"))


def _pagerank_oracle_sql(iters: int, p_sql: str | None = None,
                         weighted: bool = False,
                         base_parts: list[str] | None = None,
                         final_sql: str | None = None) -> str:
    """Unrolled power iteration, Σ=1 internal / Σ=n output, exactly the
    semantics of operators/pagerank.py (mass -> remain -> contrib -> axpy).
    ``p_sql``: per-vertex teleport expression over column ``id`` (Σ must be
    1); None = uniform 1/n. ``weighted``: transition weights |w|/rowsum
    from an explicit l_quantity edge weight (the P9 lightSpMV path,
    PageRank.h:256-274) instead of 1/out_degree; l_quantity sums are
    integer-valued doubles, so both engines accumulate them exactly.
    ``base_parts``: override the e/u/od source CTEs (default: the derived
    lineitem graph); ``final_sql``: override the final projection over
    r{iters} (default: (id, rank_n))."""
    if weighted:
        we_parts = [
            f"ew AS (SELECT l_partkey % {MOD} AS src, l_orderkey % {MOD} AS dst, "
            f"CAST(l_quantity AS DOUBLE) AS w FROM lineitem)",
            "ws AS (SELECT src, sum(abs(w)) AS s FROM ew GROUP BY src)",
            "we AS (SELECT ew.src, ew.dst, abs(ew.w) / ws.s AS w "
            "FROM ew JOIN ws ON ws.src = ew.src)",
        ]
    else:
        we_parts = [
            "we AS (SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src)",
        ]
    parts = [
        *(base_parts if base_parts is not None else [_E_SQL, _U_SQL, _OD_SQL]),
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM u)",
        *we_parts,
        "dang AS (SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM u)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        if p_sql is None:
            # same expression shape as the engine's scalar fast path
            # (division by n, not multiply-by-reciprocal — ulp parity)
            remain = (f"({ALPHA} * (SELECT mass FROM m{k}) + {1.0 - ALPHA})"
                      f" / (SELECT n FROM nv)")
        else:
            remain = (f"({ALPHA} * (SELECT mass FROM m{k}) + {1.0 - ALPHA})"
                      f" * {p_sql}")
        parts.append(
            f"m{k} AS (SELECT coalesce(sum(r.rank), 0.0) AS mass "
            f"FROM r{p} r JOIN dang d ON d.id = r.id)")
        parts.append(
            f"c{k} AS (SELECT we.dst AS id, sum(r.rank * we.w) AS c "
            f"FROM we JOIN r{p} r ON r.id = we.src GROUP BY we.dst)")
        parts.append(
            f"r{k} AS (SELECT u.id, {ALPHA} * coalesce(c{k}.c, 0.0) "
            f"+ {remain} AS rank "
            f"FROM u LEFT JOIN c{k} ON c{k}.id = u.id)")
    final = final_sql if final_sql is not None else (
        f"SELECT id, round(rank * (SELECT n FROM nv), 6) AS rank_n FROM r{iters}")
    return "WITH " + ",\n".join(parts) + "\n" + final


PPR_SEEDS = 16  # teleport concentrated uniformly on ids < 16


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-sensitive PageRank (teleport on ids < PPR_SEEDS), 3 supersteps,
    oracle-checked via the unrolled CTE with a per-vertex teleport term."""
    from pagerank_spark.operators.pagerank import pagerank
    g = _graph(spark, sf_dir)
    tp = (g.vertices.filter(F.col("id") < PPR_SEEDS)
          .select("id", F.lit(1.0 / PPR_SEEDS).alias("p")))
    res = pagerank(g, alpha=ALPHA, tol=None, max_iter=PR_ITERS, teleport=tp)
    return res.ranks.select(
        "id", F.round(F.col("rank") * F.lit(float(g.n_vertices)), 6).alias("rank_n"))


def q_pagerank_weighted_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 explicit-weight path (lightSpMV PageRank.h:256-274): edges carry
    w = l_quantity; transition weights are |w|/row-sum instead of
    1/out_degree. Feeds the same power-iteration loop; oracle-checked via
    the weighted unrolled CTE."""
    from pagerank_spark.operators.graph import build_graph
    from pagerank_spark.operators.pagerank import pagerank
    wedges = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % MOD).alias("src"),
        (F.col("l_orderkey") % MOD).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    g = build_graph(spark, wedges)
    res = pagerank(g, alpha=ALPHA, tol=None, max_iter=PR_ITERS)
    return res.ranks.select(
        "id", F.round(F.col("rank") * F.lit(float(g.n_vertices)), 6).alias("rank_n"))


CONVERGED_ITERS_SF001 = 8  # measured: l1 hits 2.95e-07 <= 1e-6 at superstep 8


def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full run to L1 <= 1e-6. The driver checks at sf0.01, where the loop
    deterministically stops after CONVERGED_ITERS_SF001 supersteps (the
    l1 margin vs tol is ~3.4x, far beyond fp-summation noise), so the
    oracle is the power iteration unrolled to exactly that depth; pytest
    additionally holds the tolerance-free NumPy oracle."""
    from pagerank_spark.operators.pagerank import pagerank
    g = _graph(spark, sf_dir)
    res = pagerank(g, alpha=ALPHA, tol=1e-6, max_iter=60)
    return res.ranks.select("id", F.round(F.col("rank") * g.n_vertices, 6).alias("rank_n"))


WEBGRAPH_PAGES = 2000  # F1 fixture size for the e2e driver queries

# index -> url, the formulaic inverse of sources/synth.url_of (n_sites=97)
_URL_OF_SQL = "printf('https://site%d.example/page%d', id % 97, id)"


def _webgraph_base_parts(n_pages: int) -> list[str]:
    """e/u/od CTEs for the F1 synthetic crawl in page-INDEX space.

    The expected edge list is unrolled driver-side from the same pure
    generative rule (sources/synth.outlink_ids) that the HTML embeds, as a
    VALUES literal — so the oracle checks that the pandas-UDF extraction
    recovers EXACTLY the links written into the pages, with multiplicity
    (duplicate targets are separate VALUES rows, matching build_graph's
    multiplicity-counting degrees). All targets are <= their source index,
    so the vertex universe is exactly range(n_pages); PageRank is
    id-label-invariant, so iterating in index space and emitting url_of(id)
    at the end equals the engine's url-keyed output."""
    from pagerank_spark.sources.synth import outlink_ids
    vals = ", ".join(f"({i},{j})"
                     for i in range(n_pages) for j in outlink_ids(i))
    return [
        f"e(src, dst) AS (VALUES {vals})",
        f"u AS (SELECT unnest(range({n_pages})) AS id)",
        _OD_SQL,
    ]


def q_pagerank_webgraph_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages->text/outlinks (pandas UDFs)->edges->PageRank, end to end on the
    deterministic synthetic Common-Crawl-style pages table. PR_ITERS fixed
    supersteps so the DuckDB oracle can unroll the exact same math over the
    generative-rule edge list (the converged variant keeps its NumPy pytest
    oracle, tests/test_webgraph_ops.py)."""
    from pagerank_spark.operators.pagerank import pagerank
    from pagerank_spark.operators.graph import graph_from_pages
    from pagerank_spark.sources.synth import synth_pages
    pages = synth_pages(spark, n_pages=WEBGRAPH_PAGES)
    g = graph_from_pages(spark, pages)
    res = pagerank(g, alpha=ALPHA, tol=None, max_iter=PR_ITERS)
    return (res.ranks.join(g.url_dict, "id")
            .select("url", F.round(F.col("rank") * g.n_vertices, 6).alias("rank_n")))


def _webgraph_oracle_sql() -> str:
    return _pagerank_oracle_sql(
        PR_ITERS,
        base_parts=_webgraph_base_parts(WEBGRAPH_PAGES),
        final_sql=(f"SELECT {_URL_OF_SQL} AS url, "
                   f"round(rank * (SELECT n FROM nv), 6) AS rank_n "
                   f"FROM r{PR_ITERS}"),
    )


# ---------------------------------------------------------------------------
# connected components / label propagation / triangles (SURVEY §2.9)
# ---------------------------------------------------------------------------


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators.components import connected_components
    g = _graph(spark, sf_dir)
    return connected_components(
        _edges(spark, sf_dir), universe=g.vertices.select("id")).labels


SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL}, {_S_SQL}, {_SYM_SQL},
walk(id, r) AS (
    SELECT id, id FROM u
    UNION
    SELECT sym.dst, walk.r FROM walk JOIN sym ON sym.src = walk.id
    WHERE walk.r < sym.dst
)
SELECT id, min(r) AS component FROM walk GROUP BY id
"""


MIS_ORACLE_ROUNDS = 10  # fixture converges in 5; extra rounds are no-ops


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-Luby maximal independent set (operators/mis.py): every
    vertex with its in/out verdict and decision round. The md5-derived
    per-round priority makes the whole fixpoint reproducible in SQL; the
    oracle unrolls {MIS_ORACLE_ROUNDS} rounds (rounds past the fixpoint
    are no-ops on an empty active set)."""
    from pagerank_spark.operators.mis import maximal_independent_set
    g = _graph(spark, sf_dir)
    res = maximal_independent_set(_edges(spark, sf_dir),
                                  universe=g.vertices.select("id"))
    assert res.converged, "MIS did not converge within max_rounds"
    # guard the oracle unroll depth too (round-4 advice): a fixture/param
    # drift past the fixed unroll must fail HERE, not as an opaque hash
    # mismatch downstream
    assert res.rounds <= MIS_ORACLE_ROUNDS, (
        f"MIS took {res.rounds} rounds > {MIS_ORACLE_ROUNDS}-round oracle unroll")
    return res.members


def _mis_sql(rounds: int = MIS_ORACLE_ROUNDS) -> str:
    parts = [_E_SQL, _U_SQL, _S_SQL, _SYM_SQL,
             "a0 AS (SELECT id FROM u)",
             "e0 AS MATERIALIZED (SELECT src AS x, dst AS y FROM sym)"]
    decided = []
    for r in range(rounds):
        parts += [
            (f"p{r} AS MATERIALIZED (SELECT id, ('0x' || substr(md5("
             f"CAST(id AS VARCHAR) || ':{r}'), 1, 15))::BIGINT AS h "
             f"FROM a{r})"),
            (f"w{r} AS MATERIALIZED (SELECT p.id FROM p{r} p "
             f"WHERE NOT EXISTS (SELECT 1 FROM e{r} e JOIN p{r} q "
             f"ON q.id = e.y WHERE e.x = p.id "
             f"AND (q.h < p.h OR (q.h = p.h AND q.id < p.id))))"),
            (f"l{r} AS MATERIALIZED (SELECT DISTINCT e.y AS id "
             f"FROM e{r} e JOIN w{r} w ON e.x = w.id)"),
            (f"d{r} AS (SELECT id, TRUE AS in_mis, {r} AS round FROM w{r} "
             f"UNION ALL SELECT id, FALSE, {r} FROM l{r})"),
            (f"g{r} AS MATERIALIZED "
             f"(SELECT id FROM w{r} UNION ALL SELECT id FROM l{r})"),
            (f"a{r+1} AS MATERIALIZED (SELECT id FROM a{r} "
             f"WHERE id NOT IN (SELECT id FROM g{r}))"),
            (f"e{r+1} AS MATERIALIZED (SELECT x, y FROM e{r} "
             f"WHERE x NOT IN (SELECT id FROM g{r}) "
             f"AND y NOT IN (SELECT id FROM g{r}))"),
        ]
        decided.append(f"SELECT * FROM d{r}")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT id, in_mis, CAST(round AS INT) AS round FROM ("
            + " UNION ALL ".join(decided) + ")")


MATCHING_ORACLE_ROUNDS = 12  # fixture converges in 8; extra rounds are no-ops


def q_maximal_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic locally-dominant maximal matching
    (operators/matching.py): matched edges (a < b) with their decision
    round. Static md5 edge priorities make the fixpoint reproducible in
    SQL; the oracle unrolls {MATCHING_ORACLE_ROUNDS} rounds (rounds past
    the fixpoint are no-ops on an empty active set)."""
    from pagerank_spark.operators.matching import maximal_matching
    res = maximal_matching(_edges(spark, sf_dir))
    assert res.converged, "matching did not converge within max_rounds"
    assert res.rounds <= MATCHING_ORACLE_ROUNDS, (
        f"matching took {res.rounds} rounds > "
        f"{MATCHING_ORACLE_ROUNDS}-round oracle unroll")
    return res.edges


def _matching_sql(rounds: int = MATCHING_ORACLE_ROUNDS) -> str:
    parts = [_E_SQL, _S_SQL,
             ("e0 AS MATERIALIZED (SELECT a, b, ('0x' || substr(md5("
              "CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 15)"
              ")::BIGINT AS h FROM s)")]
    decided = []
    for r in range(rounds):
        parts += [
            # an edge matches iff it is the strict (h, a, b)-minimum
            # active edge at BOTH endpoints
            (f"w{r} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e "
             f"WHERE NOT EXISTS (SELECT 1 FROM e{r} x "
             f"WHERE (x.a = e.a OR x.b = e.a) "
             f"AND (x.h, x.a, x.b) < (e.h, e.a, e.b)) "
             f"AND NOT EXISTS (SELECT 1 FROM e{r} x "
             f"WHERE (x.a = e.b OR x.b = e.b) "
             f"AND (x.h, x.a, x.b) < (e.h, e.a, e.b)))"),
            (f"g{r} AS MATERIALIZED "
             f"(SELECT a AS v FROM w{r} UNION SELECT b FROM w{r})"),
            (f"e{r+1} AS MATERIALIZED (SELECT a, b, h FROM e{r} "
             f"WHERE a NOT IN (SELECT v FROM g{r}) "
             f"AND b NOT IN (SELECT v FROM g{r}))"),
        ]
        decided.append(f"SELECT a, b, {r} AS round FROM w{r}")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT a, b, CAST(round AS INT) AS round FROM ("
            + " UNION ALL ".join(decided) + ")")


def q_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-approximate minimum vertex cover (operators/matching.py
    vertex_cover, Gavril): endpoints of the deterministic maximal
    matching — matched edges are vertex-disjoint, so the union is
    duplicate-free with no distinct. The oracle is the matching unroll's
    matched-edge set projected to its endpoints."""
    from pagerank_spark.operators.matching import vertex_cover
    res = vertex_cover(_edges(spark, sf_dir))
    assert res.converged and res.rounds <= MATCHING_ORACLE_ROUNDS, (
        f"matching took {res.rounds} rounds > "
        f"{MATCHING_ORACLE_ROUNDS}-round oracle unroll")
    return res.vertices


def _vertex_cover_sql(rounds: int = MATCHING_ORACLE_ROUNDS) -> str:
    """The matching unroll (see _matching_sql) with the cover projection
    as the final SELECT."""
    inner = _matching_sql(rounds)
    return (f"WITH m AS ({inner})\n"
            f"SELECT a AS id FROM m UNION ALL SELECT b FROM m")


# coloring gets its own SPARSER fixture: on the shared MOD-2048 graph the
# avg degree is ~58 (sf0.01) and ANY greedy colouring serializes on the
# dense neighbourhoods (measured: pure Jones-Plassmann >60 rounds,
# speculative 22; at 16384 the same lineitem projection gives avg degree
# ~8 — a web-graph-like sparsity — and 9 rounds)
COLORING_MOD = 16384
COLORING_ORACLE_ROUNDS = 12  # fixture converges in 9; extra rounds no-op


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic speculative greedy colouring (operators/coloring.py):
    every vertex with its 0-based colour and decision round. Static
    md5-derived priorities decide speculation conflicts, so the fixpoint
    is partitioning-independent and reproducible in SQL; the oracle
    unrolls {COLORING_ORACLE_ROUNDS} rounds."""
    from pagerank_spark.operators.coloring import greedy_coloring
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select((F.col("l_partkey") % COLORING_MOD).alias("src"),
                      (F.col("l_orderkey") % COLORING_MOD).alias("dst"))
    res = greedy_coloring(edges)
    assert res.converged, "coloring did not converge within max_rounds"
    assert res.rounds <= COLORING_ORACLE_ROUNDS, (
        f"coloring took {res.rounds} rounds > "
        f"{COLORING_ORACLE_ROUNDS}-round oracle unroll")
    return res.colors


def _coloring_sql(rounds: int = COLORING_ORACLE_ROUNDS) -> str:
    pri = ("('0x' || substr(md5(CAST({v} AS VARCHAR) || ':c'), 1, 15))"
           "::BIGINT")
    parts = [
        (f"e AS (SELECT l_partkey % {COLORING_MOD} AS src, "
         f"l_orderkey % {COLORING_MOD} AS dst FROM lineitem)"),
        ("cs AS (SELECT DISTINCT least(src,dst) AS a, greatest(src,dst) "
         "AS b FROM e WHERE src <> dst)"),
        ("csym AS MATERIALIZED (SELECT a AS src, b AS dst FROM cs "
         "UNION ALL SELECT b, a FROM cs)"),
        "a0 AS (SELECT DISTINCT src AS id FROM csym)",
        "col0 AS (SELECT CAST(NULL AS BIGINT) AS id, 0 AS color WHERE 1=0)",
    ]
    decided = []
    for r in range(rounds):
        parts += [
            # tentative colour: mex over already-coloured neighbours
            # (range is one longer than the used set, so the minimum
            # missing value always exists; no coloured neighbour -> 0)
            (f"t{r} AS MATERIALIZED (SELECT v.id, coalesce(list_min("
             f"list_filter(range(0, coalesce(len(u.used), 0) + 2), "
             f"i -> NOT list_contains(u.used, i))), 0) AS c "
             f"FROM a{r} v LEFT JOIN ("
             f"SELECT e.src AS id, list(DISTINCT col.color) AS used "
             f"FROM csym e JOIN col{r} col ON col.id = e.dst "
             f"GROUP BY e.src) u ON u.id = v.id)"),
            # conflicts: adjacent same-colour speculation — the larger
            # (h, id) endpoint retries
            (f"l{r} AS MATERIALIZED (SELECT DISTINCT t.id FROM t{r} t "
             f"JOIN csym e ON e.src = t.id JOIN t{r} q ON q.id = e.dst "
             f"WHERE q.c = t.c AND ({pri.format(v='q.id')}, q.id) < "
             f"({pri.format(v='t.id')}, t.id))"),
            (f"w{r} AS MATERIALIZED (SELECT id, c FROM t{r} "
             f"WHERE id NOT IN (SELECT id FROM l{r}))"),
            (f"col{r+1} AS MATERIALIZED (SELECT id, color FROM col{r} "
             f"UNION ALL SELECT id, c FROM w{r})"),
            (f"a{r+1} AS MATERIALIZED (SELECT id FROM a{r} "
             f"WHERE id NOT IN (SELECT id FROM w{r}))"),
        ]
        decided.append(f"SELECT id, c AS color, {r} AS round FROM w{r}")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT id, CAST(color AS INT) AS color, "
            + "CAST(round AS INT) AS round FROM ("
            + " UNION ALL ".join(decided) + ")")


MSF_ORACLE_ROUNDS = 4   # fixture converges in 2; extra rounds are no-ops


def q_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest (operators/mst.py): deterministic
    (w, a, b)-ordered MSF of the multiplicity-weighted undirected graph —
    the single-linkage backbone. Oracle unrolls {MSF_ORACLE_ROUNDS}
    Borůvka rounds, each contracting through its own recursive min-reach
    walk over that round's chosen component graph."""
    from pagerank_spark.operators.mst import minimum_spanning_forest
    res = minimum_spanning_forest(_edges(spark, sf_dir))
    assert res.converged, "MSF did not converge within max_rounds"
    assert res.rounds <= MSF_ORACLE_ROUNDS, (
        f"MSF took {res.rounds} rounds > {MSF_ORACLE_ROUNDS}-round oracle unroll")
    return res.edges


def _msf_sql(rounds: int = MSF_ORACLE_ROUNDS, doublings: int = 12) -> str:
    # No WITH RECURSIVE anywhere: a recursive CTE above a deep CTE chain
    # re-inlines the chain on every iteration (MATERIALIZED is not honored
    # under recursion), which is exponential. Instead, each round's chosen
    # graph is FUNCTIONAL — every component picks exactly one edge, succ
    # chains strictly decrease in (w, a, b) until a mutual 2-cycle — so
    # contraction is pointer DOUBLING: s_{k+1}(c) = s_k(s_k(c)); after
    # 2^doublings >= any chain depth, every c sits on its 2-cycle {u, v}
    # and least(s(c), succ(s(c))) is a consistent per-component label
    # (the forest output only depends on the partition, not label values).
    parts = [
        _E_SQL,
        ("we AS MATERIALIZED (SELECT least(src, dst) AS a, "
         "greatest(src, dst) AS b, CAST(count(*) AS DOUBLE) AS w "
         "FROM e WHERE src <> dst GROUP BY 1, 2)"),
        "c0 AS (SELECT a AS id FROM we UNION SELECT b FROM we)",
        "m0 AS MATERIALIZED (SELECT id, id AS c FROM c0)",
    ]
    chosen_all = []
    for r in range(rounds):
        parts += [
            (f"x{r} AS MATERIALIZED (SELECT we.a, we.b, we.w, "
             f"ma.c AS ca, mb.c AS cb FROM we "
             f"JOIN m{r} ma ON ma.id = we.a "
             f"JOIN m{r} mb ON mb.id = we.b WHERE ma.c <> mb.c)"),
            (f"cand{r} AS (SELECT ca AS c, w, a, b, cb AS other FROM x{r} "
             f"UNION ALL SELECT cb, w, a, b, ca FROM x{r})"),
            (f"pick{r} AS MATERIALIZED (SELECT c, w, a, b, other FROM ("
             f"SELECT c, w, a, b, other, row_number() OVER "
             f"(PARTITION BY c ORDER BY w, a, b) AS rn FROM cand{r}) "
             f"WHERE rn = 1)"),
            f"ch{r} AS MATERIALIZED (SELECT DISTINCT a, b, w FROM pick{r})",
            # functional successor over components; finished comps self-loop
            (f"s{r}_0 AS MATERIALIZED (SELECT cc.c, "
             f"coalesce(p.other, cc.c) AS s FROM "
             f"(SELECT DISTINCT c FROM m{r}) cc "
             f"LEFT JOIN pick{r} p ON p.c = cc.c)"),
        ]
        for k in range(doublings):
            parts.append(
                f"s{r}_{k + 1} AS MATERIALIZED (SELECT x.c, y.s FROM "
                f"s{r}_{k} x JOIN s{r}_{k} y ON y.c = x.s)")
        parts += [
            (f"nl{r} AS MATERIALIZED (SELECT f.c, least(f.s, g.s) AS nc "
             f"FROM s{r}_{doublings} f JOIN s{r}_0 g ON g.c = f.s)"),
            (f"m{r + 1} AS MATERIALIZED (SELECT m.id, nl.nc AS c "
             f"FROM m{r} m JOIN nl{r} nl ON nl.c = m.c)"),
        ]
        chosen_all.append(f"SELECT a, b, w FROM ch{r}")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT a, b, w FROM ("
            + " UNION ALL ".join(chosen_all) + ")")


DENSEST_K = 48          # planted clique size (makes the peel non-trivial:
DENSEST_EPS = 0.1       # the base graph is near-regular and would peel in
DENSEST_ROUNDS = 6      # one round; with K48 + eps=0.1 it takes 4)


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bahmani-Kumar-Vassilvitskii densest-subgraph peel
    (operators/densest.py): per-round (|V|, |E|, density) stats + the
    best-iterate flag over the base graph with a planted K{DENSEST_K}."""
    from pagerank_spark.operators.densest import densest_subgraph
    i = spark.range(DENSEST_K).select(F.col("id").alias("ci"))
    clique = (i.crossJoin(i.select(F.col("ci").alias("cj")))
              .filter(F.col("ci") < F.col("cj"))
              .select(F.col("ci").alias("src"), F.col("cj").alias("dst")))
    edges = _edges(spark, sf_dir).unionByName(clique)
    res = densest_subgraph(edges, epsilon=DENSEST_EPS)
    assert res.rounds <= DENSEST_ROUNDS, (
        f"densest peel took {res.rounds} rounds > "
        f"{DENSEST_ROUNDS}-round oracle unroll")
    return res.stats.select(
        "round", "n_vertices", "n_edges",
        F.round("density", 6).alias("density"), "is_best")


def _densest_sql(rounds: int = DENSEST_ROUNDS, k: int = DENSEST_K,
                 eps: float = DENSEST_EPS) -> str:
    factor = f"CAST({2.0 * (1.0 + eps)!r} AS DOUBLE)"
    parts = [
        _E_SQL,
        (f"cl AS (SELECT i.i AS src, j.i AS dst FROM "
         f"(SELECT unnest(range({k})) AS i) i, "
         f"(SELECT unnest(range({k})) AS i) j WHERE i.i < j.i)"),
        ("e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
         "greatest(src, dst) AS b FROM "
         "(SELECT src, dst FROM e UNION ALL SELECT src, dst FROM cl) "
         "WHERE src <> dst)"),
        "v0 AS MATERIALIZED (SELECT a AS id FROM e0 UNION SELECT b FROM e0)",
    ]
    st = []
    for r in range(rounds):
        parts += [
            (f"s{r} AS MATERIALIZED (SELECT "
             f"(SELECT count(*) FROM v{r}) AS nv, "
             f"(SELECT count(*) FROM e{r}) AS ne)"),
            (f"d{r} AS MATERIALIZED (SELECT id, count(*) AS d FROM "
             f"(SELECT a AS id FROM e{r} UNION ALL SELECT b FROM e{r}) "
             f"GROUP BY id)"),
            (f"v{r + 1} AS MATERIALIZED (SELECT v.id FROM v{r} v "
             f"LEFT JOIN d{r} d ON d.id = v.id CROSS JOIN s{r} s "
             f"WHERE coalesce(d.d, 0) "
             f"> {factor} * (s.ne / CAST(s.nv AS DOUBLE)))"),
            (f"e{r + 1} AS MATERIALIZED (SELECT a, b FROM e{r} "
             f"WHERE a IN (SELECT id FROM v{r + 1}) "
             f"AND b IN (SELECT id FROM v{r + 1}))"),
        ]
        st.append(f"SELECT {r} AS round, nv, ne, "
                  f"ne / CAST(nv AS DOUBLE) AS rho FROM s{r} WHERE nv > 0")
    return ("WITH " + ",\n".join(parts) + ",\n"
            "st AS (" + " UNION ALL ".join(st) + ")\n"
            "SELECT CAST(round AS INT) AS round, nv AS n_vertices, "
            "ne AS n_edges, round(rho, 6) AS density, "
            "row_number() OVER (ORDER BY rho DESC, round ASC) = 1 AS is_best "
            "FROM st")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators.labelprop import label_propagation
    g = _graph(spark, sf_dir)
    return label_propagation(
        _edges(spark, sf_dir), universe=g.vertices.select("id"),
        max_rounds=LP_ROUNDS).labels


SLP_SEEDS = 16  # seeded-LP driver query: ids < 16 carry label id % 2


def q_seeded_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (labelprop.seeded_label_propagation):
    pinned seed classes spread to the majority of labeled neighbors;
    unreached vertices stay NULL."""
    from pagerank_spark.operators.labelprop import seeded_label_propagation
    g = _graph(spark, sf_dir)
    uni = g.vertices.select("id")
    seeds = uni.filter(F.col("id") < SLP_SEEDS).select(
        "id", (F.col("id") % 2).alias("label"))
    return seeded_label_propagation(
        _edges(spark, sf_dir), seeds, universe=uni,
        max_rounds=LP_ROUNDS).labels


def _seeded_lp_oracle_sql(rounds: int, n_seeds: int) -> str:
    """Unrolled synchronous seeded LP; seeds pinned by CASE each round."""
    seed = f"CASE WHEN u.id < {n_seeds} THEN u.id % 2 ELSE NULL END"
    parts = [_E_SQL, _U_SQL, _S_SQL, _SYM_SQL,
             f"l0 AS (SELECT id, {seed.replace('u.id', 'id')} AS label FROM u)"]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"n{k} AS (SELECT sym.src AS id, l.label FROM sym "
            f"JOIN l{p} l ON l.id = sym.dst WHERE l.label IS NOT NULL)")
        parts.append(
            f"cnt{k} AS (SELECT id, label, count(*) AS c FROM n{k} GROUP BY id, label)")
        parts.append(
            f"b{k} AS (SELECT id, label AS new_label FROM "
            f"(SELECT id, label, row_number() OVER "
            f"(PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM cnt{k}) WHERE rn = 1)")
        parts.append(
            f"l{k} AS (SELECT u.id, CASE WHEN u.id < {n_seeds} THEN u.id % 2 "
            f"ELSE coalesce(b.new_label, l.label) END AS label "
            f"FROM u LEFT JOIN b{k} b ON b.id = u.id "
            f"LEFT JOIN l{p} l ON l.id = u.id)")
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, label FROM l{rounds}"


WLP_W = "1 + (src * 7 + dst) % 5"   # integer edge-quality weight, 1..5


def q_weighted_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (labelprop.weighted_label_propagation):
    per round each vertex takes the label with the largest total incident
    edge weight; weights are a deterministic 1..5 quality score so both
    engines sum exactly."""
    from pagerank_spark.operators.labelprop import weighted_label_propagation
    g = _graph(spark, sf_dir)
    we = _edges(spark, sf_dir).select(
        "src", "dst",
        (F.lit(1) + (F.col("src") * 7 + F.col("dst")) % 5).alias("w"))
    return weighted_label_propagation(
        we, universe=g.vertices.select("id"), max_rounds=LP_ROUNDS).labels


def _weighted_labelprop_oracle_sql(rounds: int) -> str:
    """Unrolled synchronous weighted LP: argmax of summed incident weight,
    ties -> min label. The undirected weight of {a,b} is the sum of w over
    every parallel row in either direction (self-loops dropped)."""
    parts = [
        _E_SQL, _U_SQL,
        f"we AS (SELECT src, dst, {WLP_W} AS w FROM e)",
        "ws AS (SELECT least(src,dst) AS a, greatest(src,dst) AS b, "
        "sum(w)::DOUBLE AS w FROM we WHERE src <> dst GROUP BY 1, 2)",
        "wsym AS (SELECT a AS src, b AS dst, w FROM ws "
        "UNION ALL SELECT b, a, w FROM ws)",
        "l0 AS (SELECT id, id AS label FROM u)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"n{k} AS (SELECT wsym.src AS id, l.label, wsym.w FROM wsym "
            f"JOIN l{p} l ON l.id = wsym.dst)")
        parts.append(
            f"cnt{k} AS (SELECT id, label, sum(w) AS c FROM n{k} GROUP BY id, label)")
        parts.append(
            f"b{k} AS (SELECT id, label AS new_label FROM "
            f"(SELECT id, label, row_number() OVER "
            f"(PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM cnt{k}) WHERE rn = 1)")
        parts.append(
            f"l{k} AS (SELECT l.id, coalesce(b.new_label, l.label) AS label "
            f"FROM l{p} l LEFT JOIN b{k} b ON b.id = l.id)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, label FROM l{rounds}")


def _labelprop_parts(rounds: int) -> list[str]:
    """CTE chain of the unrolled synchronous LP (shared by the plain LP
    oracle and the modularity-of-LP oracle); final labels in l{rounds}."""
    parts = [_E_SQL, _U_SQL, _S_SQL, _SYM_SQL,
             "l0 AS (SELECT id, id AS label FROM u)"]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"n{k} AS (SELECT sym.src AS id, l.label FROM sym "
            f"JOIN l{p} l ON l.id = sym.dst)")
        parts.append(
            f"cnt{k} AS (SELECT id, label, count(*) AS c FROM n{k} GROUP BY id, label)")
        parts.append(
            f"b{k} AS (SELECT id, label AS new_label FROM "
            f"(SELECT id, label, row_number() OVER "
            f"(PARTITION BY id ORDER BY c DESC, label ASC) AS rn FROM cnt{k}) WHERE rn = 1)")
        parts.append(
            f"l{k} AS (SELECT l.id, coalesce(b.new_label, l.label) AS label "
            f"FROM l{p} l LEFT JOIN b{k} b ON b.id = l.id)")
    return parts


def _labelprop_oracle_sql(rounds: int) -> str:
    """Unrolled synchronous LP: most-frequent neighbor label, ties -> min."""
    return ("WITH " + ",\n".join(_labelprop_parts(rounds))
            + f"\nSELECT id, label FROM l{rounds}")


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators.triangles import triangle_count
    n = triangle_count(_edges(spark, sf_dir))
    return spark.createDataFrame([(n,)], "n_triangles long")


SQL_TRIANGLE_COUNT = f"""
WITH {_E_SQL}, {_S_SQL}
SELECT count(*) AS n_triangles
FROM s e1 JOIN s e2 ON e2.a = e1.b JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators.triangles import triangles_per_vertex
    return triangles_per_vertex(_edges(spark, sf_dir))


SQL_TRIANGLES_PER_VERTEX = f"""
WITH {_E_SQL}, {_S_SQL},
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM s e1 JOIN s e2 ON e2.a = e1.b JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
SELECT id, count(*) AS triangles FROM corners GROUP BY id
"""


# ---------------------------------------------------------------------------
# HITS / BFS / k-core (round-2 centrality & structure additions, §2.9)
# ---------------------------------------------------------------------------

HITS_ITERS = 3      # unrolled hub/authority iterations in the oracle
BFS_SOURCE = 1      # vertex 0 has no out-edges in the derived graph
BFS_MAX_HOPS = 8    # >= diameter of the derived graph at every test SF
KCORE_K = 44        # peels 5 rounds to a non-empty core at sf0.01
KCORE_ORACLE_ROUNDS = 10  # > fixpoint rounds; extra peels are no-ops


def q_hits_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority scores after 3 L1-normalized iterations, scaled by n."""
    from pagerank_spark.operators.hits import hits
    g = _graph(spark, sf_dir)
    res = hits(_edges(spark, sf_dir), universe=g.vertices.select("id"),
               iterations=HITS_ITERS)
    n = float(g.n_vertices)
    return res.scores.select(
        "id",
        F.round(F.col("hub") * n, 6).alias("hub_n"),
        F.round(F.col("authority") * n, 6).alias("auth_n"),
    )


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled HITS: per iteration an edge-gather each way + L1 normalize."""
    parts = [_E_SQL, _U_SQL,
             "nn AS (SELECT count(*) AS n FROM u)",
             "h0 AS (SELECT id, 1.0 AS hub FROM u)"]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"a{k} AS (SELECT e.dst AS id, sum(h.hub) AS v FROM e "
            f"JOIN h{p} h ON h.id = e.src GROUP BY e.dst)")
        parts.append(f"at{k} AS (SELECT sum(v) AS s FROM a{k})")
        parts.append(
            f"an{k} AS (SELECT id, v / s AS authority FROM a{k}, at{k})")
        parts.append(
            f"hh{k} AS (SELECT e.src AS id, sum(an.authority) AS v FROM e "
            f"JOIN an{k} an ON an.id = e.dst GROUP BY e.src)")
        parts.append(f"ht{k} AS (SELECT sum(v) AS s FROM hh{k})")
        parts.append(f"h{k} AS (SELECT id, v / s AS hub FROM hh{k}, ht{k})")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT u.id,
       round(coalesce(h.hub, 0) * nn.n, 6) AS hub_n,
       round(coalesce(an.authority, 0) * nn.n, 6) AS auth_n
FROM u LEFT JOIN h{iters} h ON h.id = u.id
       LEFT JOIN an{iters} an ON an.id = u.id, nn
""")


def q_salsa_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores (degree-normalized HITS walk, Lempel &
    Moran WWW'01) after 3 L1-normalized iterations, scaled by n."""
    from pagerank_spark.operators.hits import salsa
    g = _graph(spark, sf_dir)
    res = salsa(_edges(spark, sf_dir), universe=g.vertices.select("id"),
                iterations=HITS_ITERS)
    n = float(g.n_vertices)
    return res.scores.select(
        "id",
        F.round(F.col("hub") * n, 6).alias("hub_n"),
        F.round(F.col("authority") * n, 6).alias("auth_n"),
    )


def _salsa_oracle_sql(iters: int) -> str:
    """Unrolled SALSA: the HITS unroll with the gathers reading the
    degree-normalized weighted edge table (wf = 1/out_deg, wb = 1/in_deg
    — same 1.0/c expression shape as the engine)."""
    parts = [_E_SQL, _U_SQL, _OD_SQL,
             "idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst)",
             "ew AS (SELECT e.src, e.dst, 1.0 / od.c AS wf, 1.0 / idg.c AS wb "
             "FROM e JOIN od ON od.id = e.src JOIN idg ON idg.id = e.dst)",
             "nn AS (SELECT count(*) AS n FROM u)",
             "h0 AS (SELECT id, 1.0 AS hub FROM u)"]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"a{k} AS (SELECT ew.dst AS id, sum(h.hub * ew.wf) AS v FROM ew "
            f"JOIN h{p} h ON h.id = ew.src GROUP BY ew.dst)")
        parts.append(f"at{k} AS (SELECT sum(abs(v)) AS s FROM a{k})")
        parts.append(
            f"an{k} AS (SELECT id, v / s AS authority FROM a{k}, at{k})")
        parts.append(
            f"hh{k} AS (SELECT ew.src AS id, sum(an.authority * ew.wb) AS v FROM ew "
            f"JOIN an{k} an ON an.id = ew.dst GROUP BY ew.src)")
        parts.append(f"ht{k} AS (SELECT sum(abs(v)) AS s FROM hh{k})")
        parts.append(f"h{k} AS (SELECT id, v / s AS hub FROM hh{k}, ht{k})")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT u.id,
       round(coalesce(h.hub, 0) * nn.n, 6) AS hub_n,
       round(coalesce(an.authority, 0) * nn.n, 6) AS auth_n
FROM u LEFT JOIN h{iters} h ON h.id = u.id
       LEFT JOIN an{iters} an ON an.id = u.id, nn
""")


KATZ_ITERS = 3      # unrolled Katz iterations in the oracle
KATZ_ALPHA = 0.1
KATZ_BETA = 1.0


def q_katz_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (operators/katz.py) after 3 fixed synchronous
    iterations x_t = beta + alpha * A^T x_{t-1}, x_0 = beta; the oracle
    unrolls the identical +/x trajectory, so the 6-decimal grid matches
    exactly."""
    from pagerank_spark.operators.katz import katz_centrality
    g = _graph(spark, sf_dir)
    res = katz_centrality(_edges(spark, sf_dir), alpha=KATZ_ALPHA,
                          beta=KATZ_BETA, max_iter=KATZ_ITERS,
                          universe=g.vertices.select("id"))
    return res.scores.select("id", F.round("katz", 6).alias("katz"))


def _katz_oracle_sql(iters: int) -> str:
    """Unrolled Katz: per iteration one edge-gather + affine update."""
    # CAST-to-DOUBLE throughout: DuckDB's 0.1 literal is DECIMAL, which
    # would propagate exact-decimal arithmetic (and a DECIMAL output
    # column) where the engine computes binary doubles
    parts = [_E_SQL, _U_SQL,
             f"x0 AS (SELECT id, CAST({KATZ_BETA} AS DOUBLE) AS katz FROM u)"]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"g{k} AS (SELECT e.dst AS id, sum(x.katz) AS c FROM e "
            f"JOIN x{p} x ON x.id = e.src GROUP BY e.dst)")
        parts.append(
            f"x{k} AS (SELECT u.id, CAST({KATZ_BETA} AS DOUBLE) "
            f"+ CAST({KATZ_ALPHA} AS DOUBLE) * coalesce(g.c, CAST(0 AS DOUBLE)) "
            f"AS katz FROM u LEFT JOIN g{k} g ON g.id = u.id)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, round(katz, 6) AS katz FROM x{iters}")


EIG_ITERS = 3       # unrolled power-iteration rounds in the oracle


def q_eigenvector_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality (operators/eigenvector.py): 3 fixed
    L1-normalized power iterations x_t = normalize(A^T x_{t-1}), x_0 = 1;
    scores scaled by n for a stable 6-decimal grid (same convention as the
    HITS oracle). The oracle unrolls the identical gather/normalize
    trajectory — sqrt-free, so both engines hold near-bit-identical
    doubles."""
    from pagerank_spark.operators.eigenvector import eigenvector_centrality
    g = _graph(spark, sf_dir)
    uni = g.vertices.select("id")
    res = eigenvector_centrality(_edges(spark, sf_dir),
                                 iterations=EIG_ITERS, universe=uni)
    n = uni.count()
    return res.scores.select(
        "id", F.round(F.col("eig") * F.lit(float(n)), 6).alias("eig_n"))


def _eigenvector_oracle_sql(iters: int) -> str:
    """Unrolled power iteration: per round one edge-gather + L1 divide.
    Vertices without in-links drop out of the state after round 1 (they
    contribute nothing downstream), exactly like the Spark loop; the final
    projection restores them at 0 over the universe."""
    parts = [_E_SQL, _U_SQL,
             "nn AS (SELECT count(*) AS n FROM u)",
             "x0 AS (SELECT id, CAST(1 AS DOUBLE) AS eig FROM u)"]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"g{k} AS (SELECT e.dst AS id, sum(x.eig) AS v FROM e "
            f"JOIN x{p} x ON x.id = e.src GROUP BY e.dst)")
        parts.append(f"t{k} AS (SELECT sum(abs(v)) AS s FROM g{k})")
        parts.append(f"x{k} AS (SELECT id, v / s AS eig FROM g{k}, t{k})")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT u.id, round(coalesce(x.eig, 0) * nn.n, 6) AS eig_n
FROM u LEFT JOIN x{iters} x ON x.id = u.id, nn
""")


REDIR_MAX_HOPS = 8  # resolves chains <= 8 hops in 3 doubling rounds

# functional redirect rule over the vertex universe: ids = 0 (mod 8) are
# terminals, 1..5 chain downward one id per hop, 6/7 form a 2-cycle (or a
# 1-hop resolve when the partner id is absent from u) — chains, terminals,
# and genuine cycles all present at every SF
_REDIR_RULE = ("CASE WHEN id % 8 BETWEEN 1 AND 5 THEN id - 1 "
               "WHEN id % 8 = 6 THEN id + 1 ELSE id - 1 END")


def q_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (operators/redirects.py): pointer-doubling
    to the terminal target over a functional redirect graph synthesized
    from the vertex universe; cycle members surface resolved=false. The
    oracle unrolls the same log2(max_hops) self-join rounds."""
    from pagerank_spark.operators.redirects import resolve_redirects
    g = _graph(spark, sf_dir)
    r = g.vertices.filter(F.col("id") % 8 != 0).select(
        "id",
        F.expr(_REDIR_RULE).alias("ptr"))
    res = resolve_redirects(r, max_hops=REDIR_MAX_HOPS,
                            src_col="id", dst_col="ptr")
    return res.targets.select("id", "final_id", "resolved")


def _redirects_oracle_sql(max_hops: int) -> str:
    """Unrolled pointer doubling: s0 = one hop + terminal test, then
    ceil(log2(max_hops)) rounds of compose-with-self."""
    parts = [_E_SQL, _U_SQL,
             f"r AS (SELECT id, {_REDIR_RULE} AS ptr FROM u WHERE id % 8 <> 0)",
             "s0 AS (SELECT r.id, r.ptr, h.id IS NULL AS done "
             "FROM r LEFT JOIN r h ON r.ptr = h.id)"]
    k, budget = 0, 1
    while budget < max_hops:
        k += 1
        budget *= 2
        p = k - 1
        parts.append(
            f"s{k} AS (SELECT s.id, "
            f"CASE WHEN s.done OR n.id IS NULL THEN s.ptr ELSE n.ptr END AS ptr, "
            f"(s.done OR n.id IS NULL OR n.done) AS done "
            f"FROM s{p} s LEFT JOIN s{p} n ON s.ptr = n.id)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, ptr AS final_id, done AS resolved FROM s{k}")


BTW_SOURCES = 8   # sampled Brandes sources = the 8 smallest vertex ids
BTW_DEPTH = 3     # truncation depth (the derived graph's reach is 3 hops)


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated sampled Brandes betweenness (operators/betweenness.py):
    8 deterministic sources, BFS truncated at 3 hops; bc sums the backward
    dependency accumulation, oracle-checked via the fully unrolled
    forward-σ / backward-δ CTE chain."""
    from pagerank_spark.operators.betweenness import betweenness
    res = betweenness(_edges(spark, sf_dir), k_sources=BTW_SOURCES,
                      max_depth=BTW_DEPTH)
    return res.scores.select("id", F.round("bc", 6).alias("bc"))


def _betweenness_oracle_sql(k_sources: int, depth: int) -> str:
    """Unrolled Brandes: forward levels l1..lD carry exact BIGINT path
    counts σ (anti-joined against the materialized visited set), backward
    levels d{D-1}..d1 the double dependencies δ. MATERIALIZED keeps DuckDB
    from exponentially inlining the per-level self-references."""
    parts = [
        _E_SQL, _U_SQL,
        "dse AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)",
        # seed set derived exactly like the engine (k SMALLEST ids, not
        # ids < k — identical unless ids are dense, but don't assume that)
        f"l0 AS MATERIALIZED (SELECT id AS s, id AS v, CAST(1 AS BIGINT) "
        f"AS sigma FROM (SELECT id FROM u ORDER BY id LIMIT {k_sources}) su)",
        "seen0 AS (SELECT s, v FROM l0)",
    ]
    for t in range(1, depth + 1):
        parts.append(
            f"l{t} AS MATERIALIZED (SELECT l.s, d.dst AS v, sum(l.sigma) AS sigma "
            f"FROM l{t - 1} l JOIN dse d ON d.src = l.v "
            f"LEFT JOIN seen{t - 1} p ON p.s = l.s AND p.v = d.dst "
            f"WHERE p.s IS NULL GROUP BY l.s, d.dst)")
        parts.append(
            f"seen{t} AS MATERIALIZED (SELECT s, v FROM seen{t - 1} "
            f"UNION ALL SELECT s, v FROM l{t})")
    for t in range(depth - 1, 0, -1):
        if t + 1 <= depth - 1:
            dj = f"LEFT JOIN d{t + 1} dd ON dd.s = lw.s AND dd.v = lw.v"
            dexpr = "coalesce(dd.delta, 0.0)"
        else:
            dj, dexpr = "", "0.0"
        parts.append(
            f"d{t} AS MATERIALIZED (SELECT lv.s, lv.v, "
            f"sum((CAST(lv.sigma AS DOUBLE) / lw.sigma) * (1.0 + {dexpr})) AS delta "
            f"FROM l{t} lv JOIN dse e2 ON e2.src = lv.v "
            f"JOIN l{t + 1} lw ON lw.s = lv.s AND lw.v = e2.dst {dj} "
            f"GROUP BY lv.s, lv.v)")
    if depth >= 2:
        union = " UNION ALL ".join(
            f"SELECT v, delta FROM d{t}" for t in range(1, depth))
        bc = f"(SELECT v, sum(delta) AS bc FROM ({union}) dd GROUP BY v)"
    else:
        bc = "(SELECT CAST(NULL AS BIGINT) AS v, 0.0 AS bc WHERE FALSE)"
    return ("WITH " + ",\n".join(parts) + f"""
SELECT u.id, round(coalesce(b.bc, 0.0), 6) AS bc
FROM u LEFT JOIN {bc} b ON b.v = u.id""")


LINKPRED_TOPK = 5


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard / Adamic-Adar link-prediction features
    (operators/linkpred.py), top-5 candidate partners per vertex ranked
    by the exact integer common count (ties by id — engine-independent)."""
    from pagerank_spark.operators.linkpred import link_prediction_scores
    return link_prediction_scores(
        _edges(spark, sf_dir), top_k=LINKPRED_TOPK).select(
        "u", "v", "common",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("adamic_adar", 6).alias("adamic_adar"))


SQL_LINK_PREDICTION = f"""
WITH {_E_SQL}, {_S_SQL},
sym AS (SELECT a AS w, b AS x FROM s UNION ALL SELECT b AS w, a AS x FROM s),
deg AS (SELECT w, count(*) AS d FROM sym GROUP BY w),
nbr AS (SELECT sym.w, sym.x, deg.d FROM sym JOIN deg ON deg.w = sym.w),
wedges AS (SELECT n1.x AS a, n2.x AS b, n1.d AS dw
           FROM nbr n1 JOIN nbr n2 ON n1.w = n2.w AND n1.x < n2.x),
sc AS (SELECT a, b, count(*) AS common, sum(1.0 / ln(dw)) AS adamic_adar
       FROM wedges GROUP BY a, b),
cand AS (SELECT sc.* FROM sc LEFT JOIN s ON s.a = sc.a AND s.b = sc.b
         WHERE s.a IS NULL),
feat AS (SELECT cand.a, cand.b, cand.common,
                CAST(cand.common AS DOUBLE) / (da.d + db.d - cand.common) AS jaccard,
                cand.adamic_adar
         FROM cand JOIN deg da ON da.w = cand.a JOIN deg db ON db.w = cand.b),
symf AS (SELECT a AS u, b AS v, common, jaccard, adamic_adar FROM feat
         UNION ALL
         SELECT b AS u, a AS v, common, jaccard, adamic_adar FROM feat),
rkd AS (SELECT u, v, common, jaccard, adamic_adar,
               row_number() OVER (PARTITION BY u
                                  ORDER BY common DESC, v) AS rk
        FROM symf)
SELECT u, v, common, round(jaccard, 6) AS jaccard,
       round(adamic_adar, 6) AS adamic_adar
FROM rkd WHERE rk <= {LINKPRED_TOPK}
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed hop distance from vertex BFS_SOURCE (reachable set only)."""
    from pagerank_spark.operators.bfs import bfs_hops
    res = bfs_hops(_edges(spark, sf_dir), [BFS_SOURCE], max_hops=BFS_MAX_HOPS)
    return res.distances.select("id", F.col("dist").cast("int").alias("dist"))


SQL_BFS_HOPS = f"""
WITH RECURSIVE {_E_SQL},
walk(id, d) AS (
    SELECT CAST({BFS_SOURCE} AS BIGINT), 0
    UNION
    SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.id
    WHERE walk.d < {BFS_MAX_HOPS}
)
SELECT id, CAST(min(d) AS INT) AS dist FROM walk GROUP BY id
"""


LANDMARK_K = 4            # landmarks = the 4 smallest vertex ids
LANDMARK_HOPS = 8


def q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-landmark BFS distance table (operators/bfs.py landmark_bfs):
    the sketch-based distance-oracle primitive — landmarks are the
    {LANDMARK_K} smallest vertex ids (data-derived, no dense-id
    assumption)."""
    from pagerank_spark.operators.bfs import landmark_bfs
    g = _graph(spark, sf_dir)
    lms = g.vertices.select("id").orderBy("id").limit(LANDMARK_K)
    res = landmark_bfs(_edges(spark, sf_dir), lms, max_hops=LANDMARK_HOPS)
    return res.distances.select(
        "lm", "id", F.col("dist").cast("int").alias("dist"))


SQL_LANDMARK_DISTANCES = f"""
WITH RECURSIVE {_E_SQL},
walk(lm, id, d) AS (
    -- landmark set inlined: DuckDB 1.0.0 mis-evaluates a UNION-based CTE
    -- (u) referenced from a recursive anchor (collapses to one landmark)
    SELECT id, id, 0 FROM (SELECT src AS id FROM e UNION SELECT dst FROM e
                           ORDER BY id LIMIT {LANDMARK_K})
    UNION
    SELECT walk.lm, e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.id
    WHERE walk.d < {LANDMARK_HOPS}
)
SELECT lm, id, CAST(min(d) AS INT) AS dist FROM walk GROUP BY lm, id
"""


DIST_PAIRS_N = 16  # query pairs: u = 16 smallest ids x v = the next 16


def _query_pair_grid(spark: SparkSession, sf_dir: str, n: int):
    """Deterministic query-pair grid shared by the distance-oracle and
    SimRank queries: u = the n smallest vertex ids, v = the next n
    (data-derived; one bounded 2n-row collect). Returns (pairs_df,
    vertex_universe_df)."""
    e = _edges(spark, sf_dir)
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    ordered = verts.orderBy("id").limit(2 * n).collect()
    us = [r["id"] for r in ordered[:n]]
    vs = [r["id"] for r in ordered[n:]]
    pairs = spark.createDataFrame([(u, v) for u in us for v in vs],
                                  "u long, v long")
    return pairs, verts


def q_distance_oracle_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query step of the sketch-based distance oracle (Das Sarma et al.
    WSDM 2010; operators/bfs.py distance_oracle_estimate): est(u, v) =
    min over landmarks of d(u->lm) + d(lm->v), over a deterministic
    {DIST_PAIRS_N}x{DIST_PAIRS_N} query-pair grid. Exercises BOTH
    landmark tables a directed oracle needs — the forward BFS and the
    reverse-edge BFS — then answers every pair with two hash joins and a
    min aggregate, no traversal."""
    from pagerank_spark.operators.bfs import (distance_oracle_estimate,
                                              landmark_tables)
    pairs, verts = _query_pair_grid(spark, sf_dir, DIST_PAIRS_N)
    lms = verts.orderBy("id").limit(LANDMARK_K)
    # both tables from ONE shared fixpoint (parity-doubled id space)
    fwd, bwd, _ = landmark_tables(_edges(spark, sf_dir), lms,
                                  max_hops=LANDMARK_HOPS)
    return distance_oracle_estimate(fwd, pairs, to_lm=bwd)


def _dist_oracle_walk_sql(join_on: str, nxt: str) -> str:
    """Scoped landmark BFS walk: the WHOLE recursive CTE lives inside its
    own subquery. Sharing one WITH RECURSIVE between two walks AND the
    UNION-based pair CTEs trips the DuckDB 1.0.0 mis-evaluation already
    documented on SQL_LANDMARK_DISTANCES (every joined (u, v) collapsed
    to a single pair); per-subquery scoping sidesteps it."""
    return f"""(WITH RECURSIVE {_E_SQL},
w(lm, id, d) AS (
    SELECT id, id, 0 FROM (SELECT src AS id FROM e UNION SELECT dst FROM e
                           ORDER BY id LIMIT {LANDMARK_K})
    UNION
    SELECT w.lm, e.{nxt}, w.d + 1 FROM w JOIN e ON e.{join_on} = w.id
    WHERE w.d < {LANDMARK_HOPS})
SELECT lm, id, min(d) AS dist FROM w GROUP BY lm, id)"""


SQL_DISTANCE_ORACLE_EST = f"""
WITH {_E_SQL},
uu AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
pu AS (SELECT id AS u FROM uu ORDER BY id LIMIT {DIST_PAIRS_N}),
pv AS (SELECT id AS v FROM uu ORDER BY id
       LIMIT {DIST_PAIRS_N} OFFSET {DIST_PAIRS_N}),
fd AS (SELECT * FROM {_dist_oracle_walk_sql('src', 'dst')} t),
bd AS (SELECT * FROM {_dist_oracle_walk_sql('dst', 'src')} t)
SELECT p.u, p.v, CAST(min(bd.dist + fd.dist) AS INT) AS est
FROM (SELECT u, v FROM pu, pv) p
JOIN bd ON bd.id = p.u
JOIN fd ON fd.lm = bd.lm AND fd.id = p.v
GROUP BY p.u, p.v
"""


SSSP_SOURCES = 2          # seeds = the 2 smallest vertex ids (data-derived)
SSSP_ORACLE_ROUNDS = 10   # BF fixpoint at sf0.01 is 6 (measured); extra = no-op
# synthetic exact edge weights both engines derive identically: integers in
# [1, 5], so every path sum is an exact double and min is unambiguous
_SSSP_W = "1 + (src * 7 + dst * 3) % 5"


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths (operators/sssp.py): frontier
    Bellman-Ford from the 2 smallest vertex ids over exact integer-valued
    weights; the oracle unrolls full relaxation rounds past the fixpoint
    (MATERIALIZED CTEs — each round references the previous twice, which
    DuckDB would otherwise inline exponentially)."""
    from pagerank_spark.operators.sssp import shortest_paths
    e = _edges(spark, sf_dir)
    ew = e.select("src", "dst",
                  F.expr(_SSSP_W).cast("double").alias("w"))
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    seeds = uni.orderBy("id").limit(SSSP_SOURCES)
    res = shortest_paths(ew, seeds, max_rounds=SSSP_ORACLE_ROUNDS)
    return res.distances.select("id", "dist")


def _sssp_oracle_sql(rounds: int) -> str:
    parts = [
        _E_SQL, _U_SQL,
        f"ew AS MATERIALIZED (SELECT DISTINCT src, dst, "
        f"CAST({_SSSP_W} AS DOUBLE) AS w FROM e)",
        f"s AS (SELECT id FROM u ORDER BY id LIMIT {SSSP_SOURCES})",
        "d0 AS MATERIALIZED (SELECT id, CAST(0 AS DOUBLE) AS dist FROM s)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT ew.dst AS id, "
            f"min(d.dist + ew.w) AS cand "
            f"FROM ew JOIN d{p} d ON d.id = ew.src GROUP BY ew.dst)")
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT coalesce(d.id, c.id) AS id, "
            f"CASE WHEN d.dist IS NULL THEN c.cand "
            f"WHEN c.cand IS NULL THEN d.dist "
            f"WHEN c.cand < d.dist THEN c.cand ELSE d.dist END AS dist "
            f"FROM d{p} d FULL JOIN c{k} c ON c.id = d.id)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, dist FROM d{rounds}")


CORENESS_ORACLE_ROUNDS = 24  # h-index fixpoint at sf0.01 is 21; extra = no-op


def q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number per vertex (h-index iteration to fixpoint); vertices
    outside the simple graph (isolated / self-loop-only) get core 0."""
    from pagerank_spark.operators.coreness import coreness
    g = _graph(spark, sf_dir)
    res = coreness(_edges(spark, sf_dir))
    return (
        g.vertices.select("id").join(res.cores, "id", "left")
        .select("id", F.coalesce("core", F.lit(0)).alias("core"))
    )


def _coreness_oracle_sql(rounds: int) -> str:
    """Unrolled h-index rounds; each c{p} is referenced once, so the plan
    grows linearly (no MATERIALIZED needed)."""
    parts = [_E_SQL, _U_SQL, _S_SQL, _SYM_SQL,
             "c0 AS (SELECT src AS id, count(*) AS core FROM sym GROUP BY src)"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"n{r} AS (SELECT sym.src AS id, c.core FROM sym "
            f"JOIN c{p} c ON c.id = sym.dst)")
        parts.append(
            f"r{r} AS (SELECT id, core, row_number() OVER "
            f"(PARTITION BY id ORDER BY core DESC) AS rn FROM n{r})")
        parts.append(
            f"c{r} AS (SELECT id, max(least(core, rn)) AS core "
            f"FROM r{r} GROUP BY id)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT u.id, coalesce(c.core, 0) AS core
FROM u LEFT JOIN c{rounds} c ON c.id = u.id
""")


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient (undirected simple graph)."""
    from pagerank_spark.operators.triangles import local_clustering_coefficient
    return local_clustering_coefficient(_edges(spark, sf_dir)).select(
        "id", "degree", "triangles", F.round("lcc", 6).alias("lcc"))


SQL_CLUSTERING_COEFFICIENT = f"""
WITH {_E_SQL}, {_S_SQL},
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM s e1 JOIN s e2 ON e2.a = e1.b JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
t AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id),
d AS (SELECT id, count(*) AS degree FROM
      (SELECT a AS id FROM s UNION ALL SELECT b FROM s) u GROUP BY id)
SELECT d.id, d.degree, coalesce(t.triangles, 0) AS triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM d LEFT JOIN t ON t.id = d.id
"""


PL_DMIN = 5


def q_gamma_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elias-γ adjacency compression estimate per log2-out-degree bin
    (operators/graphstats.py gamma_compression_estimate, Boldi-Vigna
    WWW 2004): distinct successors gap-encoded, γ bits summed exactly."""
    from pagerank_spark.operators.graphstats import \
        gamma_compression_estimate
    return gamma_compression_estimate(_edges(spark, sf_dir))


SQL_GAMMA_COMPRESSION = f"""
WITH {_E_SQL},
d AS (SELECT DISTINCT src, dst FROM e),
gaps AS (SELECT src, coalesce(dst - lag(dst) OVER
         (PARTITION BY src ORDER BY dst), dst + 1) AS gap FROM d),
ps AS (SELECT src, count(*) AS deg,
       sum(2 * CAST(floor(log2(gap)) AS BIGINT) + 1) AS bits
       FROM gaps GROUP BY src)
SELECT CAST(floor(log2(deg)) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_lists,
       CAST(sum(deg) AS BIGINT) AS n_edges,
       CAST(sum(bits) AS BIGINT) AS gamma_bits,
       round(sum(bits) / CAST(sum(deg) AS DOUBLE), 6) AS bits_per_edge
FROM ps GROUP BY 1 ORDER BY 1
"""


def q_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill-MLE power-law exponent of the in/out degree tails
    (operators/graphstats.py powerlaw_tail_fit, Clauset-Shalizi-Newman
    2009 eq. 3.1) at dmin={PL_DMIN}."""
    from pagerank_spark.operators.graphstats import powerlaw_tail_fit
    return powerlaw_tail_fit(_edges(spark, sf_dir), dmin=PL_DMIN)


def _powerlaw_sql(dmin: int = PL_DMIN) -> str:
    half = dmin - 0.5
    branches = []
    for deg_type, key in (("in", "dst"), ("out", "src")):
        branches.append(
            f"SELECT '{deg_type}' AS deg_type, {dmin} AS dmin, "
            f"CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_tail, "
            f"coalesce(sum(cnt * ln(d / {half!r})), 0.0) AS lnsum FROM "
            f"(SELECT d, count(*) AS cnt FROM "
            f"(SELECT count(*) AS d FROM e GROUP BY {key}) "
            f"WHERE d >= {dmin} GROUP BY d)")
    return (f"WITH {_E_SQL},\n"
            + "b AS (" + " UNION ALL ".join(branches) + ")\n"
            + "SELECT deg_type, dmin, n_tail, "
              "round(CASE WHEN lnsum > 0 THEN 1.0 + n_tail / lnsum "
              "ELSE 0.0 END, 6) AS alpha FROM b ORDER BY deg_type")


PART_K = 8
PART_ROUNDS = 4
PART_SLACK = 1.05


def q_balanced_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spinner-style balanced partitioning (operators/partition.py):
    penalized LPA with parity-staggered, capacity-admitted moves;
    the full (id, partition) assignment after {PART_ROUNDS} rounds is
    hash-checked, so the oracle pins every round's score, gate, and
    admission rank."""
    from pagerank_spark.operators.partition import balanced_partition
    return (balanced_partition(_edges(spark, sf_dir), k=PART_K,
                               rounds=PART_ROUNDS, slack=PART_SLACK)
            .orderBy("id"))


def _balanced_partition_sql(k: int = PART_K, rounds: int = PART_ROUNDS,
                            slack: float = PART_SLACK) -> str:
    """Dense unroll of the admission-capped penalized-LPA rounds;
    expression shapes mirror partition.py (penalty product, parity gate,
    strict improvement, (gain desc, id) admission rank vs remaining
    capacity)."""
    parts = [
        _E_SQL, _U_SQL,
        ("und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
         "greatest(src, dst) AS b FROM e WHERE src <> dst)"),
        ("adj AS MATERIALIZED (SELECT a AS id, b AS nb FROM und "
         "UNION ALL SELECT b, a FROM und)"),
        (f"capc AS (SELECT CAST(ceil(count(*) * {slack!r} / {k}) "
         f"AS DOUBLE) AS c FROM u)"),
        (f"s0 AS MATERIALIZED (SELECT id, CAST(id % {k} AS INT) AS p "
         f"FROM u)"),
    ]
    for r in range(rounds):
        parts += [
            (f"ld{r} AS MATERIALIZED (SELECT p, count(*) AS load "
             f"FROM s{r} GROUP BY p)"),
            (f"cd{r} AS (SELECT adj.id, a.p, count(*) AS cnt FROM adj "
             f"JOIN s{r} a ON a.id = adj.nb GROUP BY adj.id, a.p)"),
            (f"sc{r} AS MATERIALIZED (SELECT c.id, c.p, "
             f"c.cnt * (1.0 - coalesce(l.load, 0) / capc.c) AS score "
             f"FROM cd{r} c LEFT JOIN ld{r} l ON l.p = c.p "
             f"CROSS JOIN capc)"),
            (f"bs{r} AS (SELECT id, p AS bp, score FROM "
             f"(SELECT s.*, row_number() OVER (PARTITION BY id "
             f"ORDER BY score DESC, p) AS rk FROM sc{r} s) WHERE rk = 1)"),
            (f"cu{r} AS (SELECT s.id, s.score AS cur_score FROM sc{r} s "
             f"JOIN s{r} a ON a.id = s.id AND a.p = s.p)"),
            (f"mv{r} AS (SELECT a.id, b.bp, "
             f"b.score - coalesce(c.cur_score, 0.0) AS gain "
             f"FROM s{r} a JOIN bs{r} b ON b.id = a.id "
             f"LEFT JOIN cu{r} c ON c.id = a.id "
             f"WHERE (a.id + {r}) % 2 = 0 "
             f"AND b.score > coalesce(c.cur_score, 0.0) "
             f"AND b.bp <> a.p)"),
            (f"ad{r} AS MATERIALIZED (SELECT id, bp FROM "
             f"(SELECT m.id, m.bp, coalesce(l.load, 0) AS ld, "
             f"row_number() OVER (PARTITION BY m.bp "
             f"ORDER BY m.gain DESC, m.id) AS rk "
             f"FROM mv{r} m LEFT JOIN ld{r} l ON l.p = m.bp) "
             f"CROSS JOIN capc WHERE rk <= capc.c - ld)"),
            (f"s{r + 1} AS MATERIALIZED (SELECT a.id, "
             f"CAST(coalesce(ad.bp, a.p) AS INT) AS p FROM s{r} a "
             f"LEFT JOIN ad{r} ad ON ad.id = a.id)"),
        ]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, p AS partition FROM s{rounds} ORDER BY id")


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity (exact DECIMAL moments -> one double)."""
    from pagerank_spark.operators.graphstats import degree_assortativity
    return degree_assortativity(_edges(spark, sf_dir)).select(
        "m_edges", F.round("assortativity", 6).alias("assortativity"))


SQL_GRAPH_ASSORTATIVITY = f"""
WITH {_E_SQL},
od AS (SELECT src, count(*) AS x FROM e GROUP BY src),
idg AS (SELECT dst, count(*) AS y FROM e GROUP BY dst),
p AS (SELECT od.x, idg.y FROM e JOIN od ON od.src = e.src JOIN idg ON idg.dst = e.dst),
sums AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS m,
                sum(CAST(x AS DECIMAL(38,0))) AS sx,
                sum(CAST(y AS DECIMAL(38,0))) AS sy,
                sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y * y AS DECIMAL(38,0))) AS syy
         FROM p)
SELECT CAST(m AS BIGINT) AS m_edges,
       round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           AS assortativity
FROM sums
"""


CONTRACT_GROUPS = 64   # url -> host fan-in of the contraction oracle query


def q_graph_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex contraction (url -> host analogue): collapse ids under
    id % CONTRACT_GROUPS, merging parallel edges into multiplicity
    weights and dropping intra-group self-links — the host-graph build
    (operators/contraction.py; the dense re-numbering of
    kernel_bblock.cu:590-592 made many-to-one)."""
    from pagerank_spark.operators.contraction import contract_graph
    e = _edges(spark, sf_dir)
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    mapping = verts.select("id", (F.col("id") % CONTRACT_GROUPS).alias("gid"))
    return contract_graph(e, mapping)


SQL_GRAPH_CONTRACTION = f"""
WITH {_E_SQL},
g AS (SELECT src % {CONTRACT_GROUPS} AS gsrc, dst % {CONTRACT_GROUPS} AS gdst FROM e)
SELECT gsrc AS src, gdst AS dst, CAST(count(*) AS DOUBLE) AS w
FROM g WHERE gsrc <> gdst GROUP BY gsrc, gdst
"""


def q_host_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end host rank: contract the url-level graph (id %
    CONTRACT_GROUPS), then run weighted PageRank (P9 path — transition
    weights = link multiplicity / row-sum) for PR_ITERS supersteps.
    The composition a crawl pipeline actually ships; both stages are
    individually oracled, this checks them fused."""
    from pagerank_spark.operators.contraction import contract_graph
    from pagerank_spark.operators.graph import build_graph
    from pagerank_spark.operators.pagerank import pagerank
    e = _edges(spark, sf_dir)
    verts = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id"))).distinct())
    mapping = verts.select("id", (F.col("id") % CONTRACT_GROUPS).alias("gid"))
    g = build_graph(spark, contract_graph(e, mapping))
    res = pagerank(g, alpha=ALPHA, tol=None, max_iter=PR_ITERS)
    return res.ranks.select(
        "id", F.round(F.col("rank") * F.lit(float(g.n_vertices)), 6).alias("rank_n"))


def _host_pagerank_oracle_sql(iters: int) -> str:
    """The weighted-PageRank unroll (see _pagerank_oracle_sql) over the
    contracted edge table instead of the raw one."""
    parts = [
        _E_SQL,
        f"ce AS (SELECT src % {CONTRACT_GROUPS} AS src, dst % {CONTRACT_GROUPS} AS dst "
        f"FROM e WHERE src % {CONTRACT_GROUPS} <> dst % {CONTRACT_GROUPS})",
        "cw AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM ce GROUP BY src, dst)",
        "u AS (SELECT src AS id FROM cw UNION SELECT dst FROM cw)",
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM u)",
        "ws AS (SELECT src, sum(abs(w)) AS s FROM cw GROUP BY src)",
        "we AS (SELECT cw.src, cw.dst, abs(cw.w) / ws.s AS w "
        "FROM cw JOIN ws ON ws.src = cw.src)",
        "dang AS (SELECT u.id FROM u LEFT JOIN ws ON ws.src = u.id WHERE ws.s IS NULL)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM u)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"m{k} AS (SELECT coalesce(sum(r.rank), 0.0) AS mass "
            f"FROM r{p} r JOIN dang d ON d.id = r.id)")
        parts.append(
            f"c{k} AS (SELECT we.dst AS id, sum(r.rank * we.w) AS c "
            f"FROM we JOIN r{p} r ON r.id = we.src GROUP BY we.dst)")
        parts.append(
            f"r{k} AS (SELECT u.id, {ALPHA} * coalesce(c{k}.c, 0.0) "
            f"+ ({ALPHA} * (SELECT mass FROM m{k}) + {1.0 - ALPHA})"
            f" / (SELECT n FROM nv) AS rank "
            f"FROM u LEFT JOIN c{k} ON c{k}.id = u.id)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT id, round(rank * (SELECT n FROM nv), 6) AS rank_n FROM r{iters}")


def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link reciprocity of the simple directed graph (mutual-link
    fraction)."""
    from pagerank_spark.operators.graphstats import reciprocity
    return reciprocity(_edges(spark, sf_dir)).select(
        "m_edges", "m_reciprocated",
        F.round("reciprocity", 6).alias("reciprocity"))


SQL_GRAPH_RECIPROCITY = f"""
WITH {_E_SQL},
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
m AS (SELECT count(*) AS m FROM d),
r AS (SELECT count(*) AS r FROM d JOIN d d2 ON d2.src = d.dst AND d2.dst = d.src)
SELECT m.m AS m_edges, r.r AS m_reciprocated,
       round(CAST(r.r AS DOUBLE) / m.m, 6) AS reciprocity
FROM m, r
"""


def q_trustrank_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (teleport on seed ids < PPR_SEEDS) vs ordinary PageRank,
    PR_ITERS supersteps each; relative spam mass = (pr - tr) / pr
    (operators/trust.py, Gyongyi et al. VLDB'04/'06). Oracle: the dual
    unrolled CTE — both chains share the scan/weight/dangling CTEs."""
    from pagerank_spark.operators.trust import spam_mass
    g = _graph(spark, sf_dir)
    seeds = g.vertices.filter(F.col("id") < PPR_SEEDS).select("id")
    sm = spam_mass(g, seeds, alpha=ALPHA, tol=None, max_iter=PR_ITERS)
    n = float(g.n_vertices)
    return sm.select(
        "id",
        F.round(F.col("pr") * F.lit(n), 6).alias("pr_n"),
        F.round(F.col("tr") * F.lit(n), 6).alias("tr_n"),
        F.round("spam_mass", 6).alias("spam_mass"))


def _spam_mass_oracle_sql(iters: int, seeds: int) -> str:
    """Two unrolled power iterations (uniform r{k}, seed-teleport t{k})
    over shared scan CTEs, combined into per-vertex spam mass. Expression
    shapes mirror operators/pagerank.py exactly (see _pagerank_oracle_sql)
    so the doubles agree to the ulp in both engines."""
    # the engine's trust_teleport normalizes by the ACTUAL surviving seed
    # count after the universe semi-join — mirror that (1/|{id in u: id <
    # seeds}|) instead of assuming ids 0..seeds-1 all exist
    p_sql = (f"(CASE WHEN u.id < {seeds} "
             f"THEN 1.0 / (SELECT k FROM sk) ELSE 0.0 END)")
    parts = [
        _E_SQL, _U_SQL, _OD_SQL,
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM u)",
        f"sk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM u "
        f"WHERE id < {seeds})",
        "we AS (SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src)",
        "dang AS (SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM u)",
        "t0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM u)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        # uniform chain — scalar remain (division by n, ulp parity)
        parts.append(
            f"m{k} AS (SELECT coalesce(sum(r.rank), 0.0) AS mass "
            f"FROM r{p} r JOIN dang d ON d.id = r.id)")
        parts.append(
            f"c{k} AS (SELECT we.dst AS id, sum(r.rank * we.w) AS c "
            f"FROM we JOIN r{p} r ON r.id = we.src GROUP BY we.dst)")
        parts.append(
            f"r{k} AS (SELECT u.id, {ALPHA} * coalesce(c{k}.c, 0.0) "
            f"+ ({ALPHA} * (SELECT mass FROM m{k}) + {1.0 - ALPHA})"
            f" / (SELECT n FROM nv) AS rank "
            f"FROM u LEFT JOIN c{k} ON c{k}.id = u.id)")
        # seeded chain — per-vertex teleport remain
        parts.append(
            f"tm{k} AS (SELECT coalesce(sum(t.rank), 0.0) AS mass "
            f"FROM t{p} t JOIN dang d ON d.id = t.id)")
        parts.append(
            f"tc{k} AS (SELECT we.dst AS id, sum(t.rank * we.w) AS c "
            f"FROM we JOIN t{p} t ON t.id = we.src GROUP BY we.dst)")
        parts.append(
            f"t{k} AS (SELECT u.id, {ALPHA} * coalesce(tc{k}.c, 0.0) "
            f"+ ({ALPHA} * (SELECT mass FROM tm{k}) + {1.0 - ALPHA})"
            f" * {p_sql} AS rank "
            f"FROM u LEFT JOIN tc{k} ON tc{k}.id = u.id)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT r.id, round(r.rank * (SELECT n FROM nv), 6) AS pr_n,
       round(t.rank * (SELECT n FROM nv), 6) AS tr_n,
       round((r.rank - t.rank) / r.rank, 6) AS spam_mass
FROM r{iters} r JOIN t{iters} t ON t.id = r.id""")


WALK_LEN = 4     # steps per walk in the driver query
WALKS_R = 2      # walks per start vertex
WALK_SEED = 42


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style random-walk corpus
    (operators/walks.py): neighbor choice = shared 60-bit md5 hash mod
    out-degree over the sorted adjacency index, so the full corpus is
    reproducible in ANSI SQL (unrolled oracle below)."""
    from pagerank_spark.operators.walks import random_walks
    return random_walks(_edges(spark, sf_dir), walk_length=WALK_LEN,
                        walks_per_vertex=WALKS_R, seed=WALK_SEED)


def _random_walks_oracle_sql(length: int, walks_r: int, seed: int) -> str:
    """Unrolled walk steps; the hash expression mirrors shared_hash60
    (first 15 md5 hex digits as int64) on the identical concat string."""
    rs = " UNION ALL ".join(
        f"SELECT {i} AS r" if i == 0 else f"SELECT {i}"
        for i in range(walks_r))
    parts = [
        _E_SQL, _U_SQL,
        "adj AS (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM e)",
        "dgw AS (SELECT DISTINCT src, deg FROM adj)",
        f"s0 AS (SELECT u.id AS start_id, w.r AS walk, 0 AS step, "
        f"u.id AS vertex FROM u CROSS JOIN ({rs}) w)",
    ]
    for k in range(1, length + 1):
        h = (f"('0x' || substr(md5(s.start_id || ':' || s.walk || ':{k}:' "
             f"|| s.vertex || ':{seed}'), 1, 15))::BIGINT")
        parts.append(
            f"s{k} AS (SELECT s.start_id, s.walk, {k} AS step, a.dst AS vertex "
            f"FROM s{k - 1} s JOIN dgw d ON d.src = s.vertex "
            f"JOIN adj a ON a.src = s.vertex AND a.idx = ({h} % d.deg))")
    union = " UNION ALL ".join(
        f"SELECT start_id, walk, step, vertex FROM s{k}"
        for k in range(length + 1))
    return "WITH " + ",\n".join(parts) + "\n" + union


SIMRANK_C = 0.8
SIMRANK_LEN = 4
SIMRANK_WALKS = 8
SIMRANK_PAIRS_N = 8   # query grid: 8 smallest ids x the next 8


def q_simrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo SimRank for a deterministic query-pair grid
    (operators/simrank.py, Fogaras-Racz WWW 2005): coupled reverse walks
    — the pick hashes (serial, step, CURRENT vertex) only, so walks are
    independent apart and coalesce on meeting — averaged as c^tau over
    first meetings. The oracle replays the coupled walks, the meeting
    join, and the power sum."""
    from pagerank_spark.operators.simrank import simrank_mc
    pairs, _ = _query_pair_grid(spark, sf_dir, SIMRANK_PAIRS_N)
    return simrank_mc(_edges(spark, sf_dir), pairs, c=SIMRANK_C,
                      walk_length=SIMRANK_LEN, walks=SIMRANK_WALKS,
                      seed=WALK_SEED)


def _simrank_oracle_sql(length: int = SIMRANK_LEN,
                        walks_r: int = SIMRANK_WALKS,
                        seed: int | None = None) -> str:
    """Coupled-walk replay on the REVERSED edge table (no start in the
    hash), then the meeting join + min-tau + power-sum algebra of
    simrank_mc."""
    if seed is None:
        seed = WALK_SEED
    rs = " UNION ALL ".join(
        f"SELECT {i} AS r" if i == 0 else f"SELECT {i}"
        for i in range(walks_r))
    n = SIMRANK_PAIRS_N
    parts = [
        _E_SQL,
        ("re AS (SELECT l_orderkey % {m} AS src, l_partkey % {m} AS dst "
         "FROM lineitem)").format(m=MOD),
        "uu AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        f"pu AS (SELECT id AS u FROM uu ORDER BY id LIMIT {n})",
        f"pv AS (SELECT id AS v FROM uu ORDER BY id LIMIT {n} OFFSET {n})",
        "qp AS (SELECT u, v FROM pu, pv)",
        "st AS (SELECT u AS id FROM qp UNION SELECT v FROM qp)",
        ("adj AS (SELECT src, dst, "
         "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
         "count(*) OVER (PARTITION BY src) AS deg FROM re)"),
        "dgw AS (SELECT DISTINCT src, deg FROM adj)",
        (f"s0 AS (SELECT st.id AS start_id, w.r AS walk, 0 AS step, "
         f"st.id AS vertex FROM st CROSS JOIN ({rs}) w)"),
    ]
    for k in range(1, length + 1):
        h = (f"('0x' || substr(md5(s.walk || ':{k}:' "
             f"|| s.vertex || ':{seed}'), 1, 15))::BIGINT")
        parts.append(
            f"s{k} AS (SELECT s.start_id, s.walk, {k} AS step, a.dst AS vertex "
            f"FROM s{k - 1} s JOIN dgw d ON d.src = s.vertex "
            f"JOIN adj a ON a.src = s.vertex AND a.idx = ({h} % d.deg))")
    union = " UNION ALL ".join(
        f"SELECT start_id, walk, step, vertex FROM s{k}"
        for k in range(1, length + 1))
    parts += [
        f"wk AS ({union})",
        ("tau AS (SELECT q.u, q.v, a.walk, min(a.step) AS tau "
         "FROM qp q JOIN wk a ON a.start_id = q.u "
         "JOIN wk b ON b.start_id = q.v AND b.walk = a.walk "
         "AND b.step = a.step AND b.vertex = a.vertex "
         "GROUP BY 1, 2, 3)"),
        (f"met AS (SELECT u, v, count(*) AS n_meets, "
         f"sum(power({SIMRANK_C}, tau)) AS mass FROM tau GROUP BY 1, 2)"),
    ]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT q.u, q.v,
       CAST(coalesce(m.n_meets, 0) AS INT) AS n_meets,
       round(coalesce(m.mass, 0.0) / {float(walks_r)}, 6) AS simrank
FROM qp q LEFT JOIN met m ON m.u = q.u AND m.v = q.v
""")


WW_W = "1 + (src + dst) % 3"   # integer anchor-quality walk weight, 1..3


def q_weighted_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-biased walk corpus (walks.random_walks weight_col): an edge
    of integer weight w owns w slots of the adjacency index, so the
    deterministic hash pick lands on it with probability w/Σw — exact
    integer arithmetic, no float cumsum, same SQL-reproducible machinery
    as the uniform corpus."""
    from pagerank_spark.operators.walks import random_walks
    we = _edges(spark, sf_dir).select(
        "src", "dst", (F.lit(1) + (F.col("src") + F.col("dst")) % 3).alias("w"))
    return random_walks(we, walk_length=WALK_LEN, walks_per_vertex=WALKS_R,
                        seed=WALK_SEED, weight_col="w")


def _weighted_walks_oracle_sql(length: int, walks_r: int, seed: int) -> str:
    """The uniform-walk oracle over the weight-EXPANDED adjacency: each
    (src,dst) contributes sum(w) index slots (unnest(generate_series)),
    deg = Σw per src — mirroring adjacency_index(weight_col=...)."""
    rs = " UNION ALL ".join(
        f"SELECT {i} AS r" if i == 0 else f"SELECT {i}"
        for i in range(walks_r))
    parts = [
        _E_SQL, _U_SQL,
        f"we AS (SELECT src, dst, {WW_W} AS w FROM e)",
        "wcnt AS (SELECT src, dst, sum(w)::BIGINT AS c FROM we GROUP BY src, dst)",
        "units AS (SELECT src, dst, unnest(generate_series(1, c)) AS g FROM wcnt)",
        "adj AS (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst, g) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM units)",
        "dgw AS (SELECT DISTINCT src, deg FROM adj)",
        f"s0 AS (SELECT u.id AS start_id, w.r AS walk, 0 AS step, "
        f"u.id AS vertex FROM u CROSS JOIN ({rs}) w)",
    ]
    for k in range(1, length + 1):
        h = (f"('0x' || substr(md5(s.start_id || ':' || s.walk || ':{k}:' "
             f"|| s.vertex || ':{seed}'), 1, 15))::BIGINT")
        parts.append(
            f"s{k} AS (SELECT s.start_id, s.walk, {k} AS step, a.dst AS vertex "
            f"FROM s{k - 1} s JOIN dgw d ON d.src = s.vertex "
            f"JOIN adj a ON a.src = s.vertex AND a.idx = ({h} % d.deg))")
    union = " UNION ALL ".join(
        f"SELECT start_id, walk, step, vertex FROM s{k}"
        for k in range(length + 1))
    return "WITH " + ",\n".join(parts) + "\n" + union


N2V_P = 4.0    # node2vec return bias (w_ret = 250)
N2V_Q = 0.25   # node2vec in-out bias (w_dfs = 4000)


def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased walk corpus (walks.node2vec_walks): integer
    p/q weights, deterministic hash pick against the per-walker
    cumulative weight — SQL-reproducible end to end."""
    from pagerank_spark.operators.walks import node2vec_walks
    return node2vec_walks(_edges(spark, sf_dir), walk_length=WALK_LEN,
                          walks_per_vertex=WALKS_R, p=N2V_P, q=N2V_Q,
                          seed=WALK_SEED)


def _node2vec_oracle_sql(length: int, walks_r: int, p: float, q: float,
                         seed: int) -> str:
    """Unrolled biased steps: per step one candidates join, one prev->x
    classification left join, one cumulative/total weight window, one
    interval pick — mirroring node2vec_walks expression for expression."""
    w_ret, w_bfs, w_dfs = round(1000 / p), 1000, round(1000 / q)
    rs = " UNION ALL ".join(
        f"SELECT {i} AS r" if i == 0 else f"SELECT {i}"
        for i in range(walks_r))
    parts = [
        _E_SQL, _U_SQL,
        "adj AS (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM e)",
        "dgw AS (SELECT DISTINCT src, deg FROM adj)",
        "sed AS (SELECT DISTINCT src AS prev, dst AS x FROM e)",
        f"s0 AS (SELECT u.id AS start_id, w.r AS walk, u.id AS prev, "
        f"u.id AS vertex FROM u CROSS JOIN ({rs}) w)",
    ]
    h1 = (f"('0x' || substr(md5(s.start_id || ':' || s.walk || ':1:' "
          f"|| s.vertex || ':{seed}'), 1, 15))::BIGINT")
    parts.append(
        f"s1 AS (SELECT s.start_id, s.walk, s.vertex AS prev, a.dst AS vertex "
        f"FROM s0 s JOIN dgw d ON d.src = s.vertex "
        f"JOIN adj a ON a.src = s.vertex AND a.idx = ({h1} % d.deg))")
    for k in range(2, length + 1):
        hk = (f"('0x' || substr(md5(start_id || ':' || walk || ':{k}:' "
              f"|| cur || ':{seed}:b'), 1, 15))::BIGINT")
        parts.append(
            f"cand{k} AS (SELECT s.start_id, s.walk, s.prev, "
            f"s.vertex AS cur, a.dst AS x, a.idx, "
            f"CASE WHEN a.dst = s.prev THEN {w_ret} "
            f"WHEN sed.x IS NOT NULL THEN {w_bfs} ELSE {w_dfs} END AS w "
            f"FROM s{k - 1} s JOIN adj a ON a.src = s.vertex "
            f"LEFT JOIN sed ON sed.prev = s.prev AND sed.x = a.dst)")
        parts.append(
            f"sc{k} AS (SELECT start_id, walk, cur, x, w, "
            f"sum(w) OVER (PARTITION BY start_id, walk ORDER BY idx) AS cum, "
            f"sum(w) OVER (PARTITION BY start_id, walk) AS t FROM cand{k})")
        parts.append(
            f"s{k} AS (SELECT start_id, walk, cur AS prev, x AS vertex "
            f"FROM sc{k} WHERE cum - w <= ({hk} % t) AND ({hk} % t) < cum)")
    union = " UNION ALL ".join(
        ["SELECT start_id, walk, 0 AS step, vertex FROM s0"]
        + [f"SELECT start_id, walk, {k} AS step, vertex FROM s{k}"
           for k in range(1, length + 1)])
    return "WITH " + ",\n".join(parts) + "\n" + union


def q_pagerank_mc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo PageRank estimate (walks.pagerank_monte_carlo): visit
    counts over the deterministic walk corpus with a hash-coin geometric
    continuation — the cheap warm-start/shortlist pre-pass."""
    from pagerank_spark.operators.walks import pagerank_monte_carlo
    return pagerank_monte_carlo(
        _edges(spark, sf_dir), alpha=ALPHA, walks_per_vertex=WALKS_R,
        max_length=WALK_LEN, seed=WALK_SEED)


def _pagerank_mc_oracle_sql(length: int, walks_r: int, seed: int,
                            alpha: float) -> str:
    """Walk-corpus unroll + the same md5 continuation coins + visit count."""
    thresh = int(round(alpha * 1_000_000))

    def coin(j: int) -> str:
        return (f"(('0x' || substr(md5(start_id || ':' || walk || "
                f"':{j}:{seed}:c'), 1, 15))::BIGINT % 1000000) < {thresh}")

    arms = ["step = 0"]
    for k in range(1, length + 1):
        conj = " AND ".join(coin(j) for j in range(1, k + 1))
        arms.append(f"(step = {k} AND {conj})")
    alive = " OR ".join(arms)
    base = _random_walks_oracle_sql(length, walks_r, seed)
    return f"""
WITH w AS ({base}),
v AS (SELECT vertex AS id, count(*) AS visits FROM w
      WHERE {alive} GROUP BY vertex),
t AS (SELECT sum(visits) AS t FROM v)
SELECT id, visits, CAST(visits AS DOUBLE) / t.t AS rank_est
FROM v CROSS JOIN t
"""


SAMPLE_FANOUTS = [3, 2]   # GraphSAGE layer fan-outs for the driver query
SAMPLE_SEEDS = 8          # seeds = ids < 8


def q_sample_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style layered neighbor sampling (operators/sampling.py):
    seeds ids < 8, fan-outs 3 then 2, hash-ranked deterministic choice."""
    from pagerank_spark.operators.sampling import sample_neighbors
    e = _edges(spark, sf_dir)
    seeds = (e.select(F.col("src").alias("id"))
             .unionByName(e.select(F.col("dst").alias("id")))
             .distinct().filter(F.col("id") < SAMPLE_SEEDS))
    return sample_neighbors(e, seeds, SAMPLE_FANOUTS, seed=WALK_SEED)


def _sample_neighbors_oracle_sql(fanouts: list[int], seeds: int,
                                 seed: int) -> str:
    """Unrolled layered sampling; per hop a frontier join + the same
    md5-hash row_number rank the engine computes."""
    parts = [
        _E_SQL, _U_SQL,
        "de AS (SELECT DISTINCT src, dst FROM e)",
        f"f0 AS (SELECT id FROM u WHERE id < {seeds})",
    ]
    for hop, fanout in enumerate(fanouts):
        h = (f"('0x' || substr(md5('{hop}:' || d.src || ':' || d.dst "
             f"|| ':{seed}'), 1, 15))::BIGINT")
        parts.append(
            f"e{hop} AS (SELECT {hop} AS hop, src, dst FROM ("
            f"SELECT d.src, d.dst, row_number() OVER (PARTITION BY d.src "
            f"ORDER BY {h}, d.dst) AS rk "
            f"FROM de d JOIN f{hop} f ON f.id = d.src) t WHERE rk <= {fanout})")
        parts.append(
            f"f{hop + 1} AS (SELECT DISTINCT dst AS id FROM e{hop})")
    union = " UNION ALL ".join(
        f"SELECT hop, src, dst FROM e{h}" for h in range(len(fanouts)))
    return "WITH " + ",\n".join(parts) + "\n" + union


COVISIT_TOPK = 3


def q_covisit_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixie-style walk-co-visitation similarity (walks.py): top-3
    most-visited vertices per start over the deterministic walk corpus.
    Oracle: the walk unroll wrapped in the same count + rank."""
    from pagerank_spark.operators.walks import covisit_similarity
    return covisit_similarity(
        _edges(spark, sf_dir), walk_length=WALK_LEN,
        walks_per_vertex=WALKS_R, seed=WALK_SEED, top_k=COVISIT_TOPK)


def _covisit_oracle_sql(length: int, walks_r: int, seed: int, top_k: int) -> str:
    walks = _random_walks_oracle_sql(length, walks_r, seed)
    return f"""
WITH base AS ({walks}),
cnt AS (SELECT start_id, vertex, count(*) AS visits FROM base
        WHERE step > 0 AND vertex <> start_id GROUP BY start_id, vertex),
rk AS (SELECT start_id, vertex, visits,
              row_number() OVER (PARTITION BY start_id
                                 ORDER BY visits DESC, vertex) AS r
       FROM cnt)
SELECT start_id, vertex, visits FROM rk WHERE r <= {top_k}
"""


def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted anchor-text index over the F1 synthetic crawl (pandas-UDF
    anchor extraction -> per-target aggregation, operators/anchors.py).
    Oracled: the expected (src, dst, anchor) triples unroll driver-side
    from the generative rule (outlink_ids + anchor_word) as a VALUES
    literal, so the driver hash-checks extraction AND aggregation."""
    from pagerank_spark.operators.anchors import anchor_text_index
    from pagerank_spark.sources.synth import synth_pages
    return anchor_text_index(synth_pages(spark, n_pages=WEBGRAPH_PAGES))


def _anchor_index_oracle_sql() -> str:
    """Same aggregation as operators/anchors.anchor_text_index over the
    generative-rule anchor triples (page-index space; urls emitted via the
    formulaic url_of at the end, like _webgraph_oracle_sql)."""
    from pagerank_spark.sources.synth import anchor_word, outlink_ids
    vals = ", ".join(
        f"({i},{j},'{anchor_word(i, t)}')"
        for i in range(WEBGRAPH_PAGES)
        for t, j in enumerate(outlink_ids(i))
    )
    return f"""
WITH pairs(src, id, anchor) AS (VALUES {vals}),
per_text AS (SELECT id, anchor, count(*) AS n FROM pairs GROUP BY id, anchor),
top AS (SELECT id, anchor AS top_anchor, n AS top_anchor_n FROM (
    SELECT id, anchor, n,
           row_number() OVER (PARTITION BY id ORDER BY n DESC, anchor ASC) AS rk
    FROM per_text) WHERE rk = 1),
totals AS (SELECT id, count(*) AS n_anchors,
                  count(DISTINCT src) AS n_sources,
                  count(DISTINCT anchor) AS n_texts
           FROM pairs GROUP BY id)
SELECT {_URL_OF_SQL} AS url, n_anchors, n_sources, n_texts,
       top_anchor, top_anchor_n
FROM totals JOIN top USING (id)
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the k-core (k=KCORE_K) with their in-core degree."""
    from pagerank_spark.operators.kcore import k_core
    res = k_core(_edges(spark, sf_dir), k=KCORE_K)
    return res.vertices.select("id", "core_deg")


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled peeling; rounds > fixpoint, extra rounds are identity.
    Each round's survivor set is MATERIALIZED: every c{p} is referenced 3x
    per round, and DuckDB's default CTE inlining would make the plan (and
    its parquet scans) grow 3^rounds."""
    parts = [_E_SQL, _S_SQL, "c0 AS MATERIALIZED (SELECT a, b FROM s)"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"d{r} AS (SELECT id, count(*) AS deg FROM "
            f"(SELECT a AS id FROM c{p} UNION ALL SELECT b FROM c{p}) t GROUP BY id)")
        parts.append(f"k{r} AS (SELECT id FROM d{r} WHERE deg >= {k})")
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT c.a, c.b FROM c{p} c "
            f"JOIN k{r} x ON x.id = c.a JOIN k{r} y ON y.id = c.b)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT id, count(*) AS core_deg FROM
(SELECT a AS id FROM c{rounds} UNION ALL SELECT b FROM c{rounds}) t
GROUP BY id HAVING count(*) >= {k}
""")


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed graph: label = min
    vertex id in the SCC (bowtie decomposition, Broder et al. 2000)."""
    from pagerank_spark.operators.scc import strongly_connected_components
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = strongly_connected_components(e, universe=uni)
    return res.labels


# transitive closure of the simple digraph; v's SCC label is the smallest
# u with v ~> u and u ~> v (itself if none). Exact, O(V·E) — fine at sf0.01.
SQL_SCC = f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL},
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
step(a, b) AS (
    SELECT src, dst FROM d
    UNION
    SELECT s.a, d.dst FROM step s JOIN d ON d.src = s.b
),
mutual AS (SELECT r1.a AS id, r1.b AS other
           FROM step r1 JOIN step r2 ON r2.a = r1.b AND r2.b = r1.a)
SELECT u.id, least(u.id, coalesce(min(m.other), u.id)) AS scc
FROM u LEFT JOIN mutual m ON m.id = u.id
GROUP BY u.id
"""


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie region per vertex (CORE/IN/OUT/TUBE/TENDRIL/
    DISCONNECTED relative to the largest SCC, operators/bowtie.py)."""
    from pagerank_spark.operators.bowtie import bowtie_decomposition
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = bowtie_decomposition(e, universe=uni)
    return res.regions


# closure-based truth: SCC labels as in SQL_SCC, core = largest SCC
# (tie: min label), regions from reachability against the closure.
# NB: the shared _U_SQL's bare UNION loses its dedup when DuckDB parses it
# inside this particular RECURSIVE block (it yields |e|*2 rows here, while
# the same text is fine in SQL_SCC) — so the universe is spelled with an
# explicit DISTINCT.
SQL_BOWTIE = f"""
WITH RECURSIVE {_E_SQL},
u AS MATERIALIZED (SELECT DISTINCT id FROM
     (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
step(a, b) AS (
    SELECT src, dst FROM d
    UNION
    SELECT s.a, d.dst FROM step s JOIN d ON d.src = s.b
),
r AS MATERIALIZED (SELECT id AS a, id AS b FROM u UNION SELECT a, b FROM step),
scc AS MATERIALIZED (
    SELECT u.id, least(u.id, coalesce(min(m.other), u.id)) AS scc
    FROM u LEFT JOIN (SELECT r1.a AS id, r1.b AS other
                      FROM step r1 JOIN step r2 ON r2.a = r1.b AND r2.b = r1.a) m
      ON m.id = u.id GROUP BY u.id),
core AS MATERIALIZED (SELECT id FROM scc WHERE scc = (
    SELECT scc FROM (SELECT scc, count(*) AS n FROM scc GROUP BY scc
                     ORDER BY n DESC, scc ASC LIMIT 1))),
fwd  AS (SELECT DISTINCT r.b AS id FROM r JOIN core c ON c.id = r.a),
bwd  AS (SELECT DISTINCT r.a AS id FROM r JOIN core c ON c.id = r.b),
outs AS MATERIALIZED (SELECT f.id FROM fwd f
                      LEFT JOIN core c ON c.id = f.id WHERE c.id IS NULL),
ins  AS MATERIALIZED (SELECT b.id FROM bwd b
                      LEFT JOIN core c ON c.id = b.id WHERE c.id IS NULL),
fin  AS (SELECT DISTINCT r.b AS id FROM r JOIN ins i ON i.id = r.a),
bout AS (SELECT DISTINCT r.a AS id FROM r JOIN outs o ON o.id = r.b)
SELECT u.id, CASE
  WHEN c.id IS NOT NULL THEN 'CORE'
  WHEN i.id IS NOT NULL THEN 'IN'
  WHEN o.id IS NOT NULL THEN 'OUT'
  WHEN f.id IS NOT NULL AND bo.id IS NOT NULL THEN 'TUBE'
  WHEN f.id IS NOT NULL OR bo.id IS NOT NULL THEN 'TENDRIL'
  ELSE 'DISCONNECTED' END AS region
FROM u LEFT JOIN core c ON c.id = u.id
       LEFT JOIN ins i ON i.id = u.id
       LEFT JOIN outs o ON o.id = u.id
       LEFT JOIN fin f ON f.id = u.id
       LEFT JOIN bout bo ON bo.id = u.id
"""


NF_T = 3  # fixed hop budget so the exact-mode result is SQL-matchable


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed neighborhood function N(t) = #pairs within t hops,
    t = 0..NF_T (exact mode; the HyperANF sketch path is the scale
    variant, pytest-checked against this truth)."""
    from pagerank_spark.operators.neighborhood import neighborhood_function_exact
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = neighborhood_function_exact(e, max_t=NF_T, universe=uni)
    return res.nf


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality hc(v) = sum of 1/d(u,v) over
    0 < d(u,v) <= T, lcm-scaled to an exact BIGINT (T=NF_T, lcm(1..3)=6)."""
    from pagerank_spark.operators.neighborhood import harmonic_centrality_exact
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = harmonic_centrality_exact(e, max_t=NF_T, universe=uni,
                                    direction="in")
    return res.scores.select("id", "hc_num")


def _harmonic_oracle_sql(t_max: int) -> str:
    import math
    lcm = math.lcm(*range(1, t_max + 1))
    case = " ".join(f"WHEN {k} THEN {lcm // k}" for k in range(1, t_max + 1))
    # NB: under WITH RECURSIVE, DuckDB 1.0 stops deduplicating plain-UNION
    # CTEs (u behaves as UNION ALL), so wrap it in an explicit DISTINCT —
    # a duplicated outer row would multiply the per-vertex sum.
    return f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL},
ud AS (SELECT DISTINCT id FROM u),
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
walk(a, b, t) AS (
    SELECT id, id, 0 FROM ud
    UNION
    SELECT w.a, d.src, w.t + 1 FROM walk w JOIN d ON d.dst = w.b
    WHERE w.t < {t_max}
),
md AS (SELECT a, b, min(t) AS t FROM walk GROUP BY a, b)
SELECT ud.id,
       CAST(coalesce(sum(CASE md.t {case} END), 0) AS BIGINT) AS hc_num
FROM ud LEFT JOIN md ON md.a = ud.id AND md.t > 0
GROUP BY ud.id
"""


SQL_NEIGHBORHOOD = f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL},
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
walk(a, b, t) AS (
    SELECT id, id, 0 FROM u
    UNION
    SELECT w.a, d.dst, w.t + 1 FROM walk w JOIN d ON d.src = w.b
    WHERE w.t < {NF_T}
),
md AS (SELECT a, b, min(t) AS t FROM walk GROUP BY a, b)
SELECT CAST(ts.t AS INT) AS t, count(md.a) AS n_pairs
FROM range(0, {NF_T + 1}) ts(t) LEFT JOIN md ON md.t <= ts.t
GROUP BY ts.t
"""


def q_distance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated effective diameter (Boldi-Vigna 0.9 convention) + mean
    finite-pair distance from the exact truncated neighborhood function
    (operators/neighborhood.py distance_stats). The trajectory is exact
    integer counts; the two final divisions are single IEEE ops on
    identical operands in both engines, so the 6-decimal grid matches
    exactly."""
    from pagerank_spark.operators.neighborhood import (
        distance_stats, neighborhood_function_exact)
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = neighborhood_function_exact(e, max_t=NF_T, universe=uni)
    stats = distance_stats(res.counts, alpha=0.9)
    return spark.createDataFrame(
        [(int(stats["n_pairs"]), float(stats["effective_diameter"]),
          float(stats["mean_distance"]))],
        "n_pairs long, eff_raw double, mean_raw double",
    ).select("n_pairs",
             F.round("eff_raw", 6).alias("eff_diameter"),
             F.round("mean_raw", 6).alias("mean_distance"))


# Same recursive-walk CTEs as SQL_NEIGHBORHOOD, then the identical
# interpolation arithmetic: target = 0.9·N(T) (same literal double), hit =
# first t with N(t) >= target, linear interpolation between exact integer
# counts; mean = Σ t·ΔN(t) / (N(T) - N(0)) — the numerator is an exact
# integer (< 2^53), so summation order cannot differ between engines.
SQL_DISTANCE_STATS = f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL},
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
walk(a, b, t) AS (
    SELECT id, id, 0 FROM u
    UNION
    SELECT w.a, d.dst, w.t + 1 FROM walk w JOIN d ON d.src = w.b
    WHERE w.t < {NF_T}
),
md AS (SELECT a, b, min(t) AS t FROM walk GROUP BY a, b),
nf AS (SELECT ts.t, count(md.a) AS np
       FROM range(0, {NF_T + 1}) ts(t) LEFT JOIN md ON md.t <= ts.t
       GROUP BY ts.t),
tot AS (SELECT max(np) AS total FROM nf),
n0 AS (SELECT np AS c0 FROM nf WHERE t = 0),
tgt AS (SELECT CAST(0.9 AS DOUBLE) * CAST(total AS DOUBLE) AS target,
               total FROM tot),
hit AS (SELECT min(t) AS t FROM nf, tgt
        WHERE CAST(np AS DOUBLE) >= tgt.target),
eff AS (SELECT CASE
            WHEN h.t = 0 THEN CAST(0 AS DOUBLE)
            WHEN cur.np > prev.np THEN (h.t - 1)
                + (tgt.target - CAST(prev.np AS DOUBLE))
                  / CAST(cur.np - prev.np AS DOUBLE)
            ELSE CAST(h.t AS DOUBLE) END AS eff_raw
        FROM hit h CROSS JOIN tgt
        JOIN nf cur ON cur.t = h.t
        LEFT JOIN nf prev ON prev.t = h.t - 1),
meanv AS (SELECT CASE WHEN tot.total > n0.c0 THEN
                 CAST(sum(cur.t * (cur.np - prev.np)) AS DOUBLE)
                 / CAST(tot.total - n0.c0 AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END AS mean_raw
          FROM nf cur JOIN nf prev ON prev.t = cur.t - 1, tot, n0
          GROUP BY tot.total, n0.c0)
SELECT tot.total AS n_pairs,
       round(eff.eff_raw, 6) AS eff_diameter,
       round(meanv.mean_raw, 6) AS mean_distance
FROM tot, eff, meanv
"""


# ---------------------------------------------------------------------------
# round-3 structural additions: closeness, modularity, truss, co-citation,
# degree statistics, streaming edge ingest
# ---------------------------------------------------------------------------

CLOSENESS_T = 3       # truncation (same hop budget as the harmonic oracle)
KTRUSS_K = 4          # support >= 2 within the surviving subgraph
KTRUSS_ORACLE_ROUNDS = 14   # > the 11-round fixpoint at sf0.01; extra no-op
COCITE_CAP = 64       # middle-degree cap (exercises the pruning path)
COCITE_K = 25         # global top-k pairs


def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Wasserman-Faust closeness (operators/neighborhood.py):
    exact integer (n_reached, dist_sum) within CLOSENESS_T hops over
    reversed edges, one final double division."""
    from pagerank_spark.operators.neighborhood import closeness_centrality_exact
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    res = closeness_centrality_exact(e, max_t=CLOSENESS_T, universe=uni,
                                     direction="in")
    return res.scores.select("id", "n_reached", "dist_sum",
                             F.round("closeness", 6).alias("closeness"))


def _closeness_oracle_sql(t_max: int) -> str:
    return f"""
WITH RECURSIVE {_E_SQL}, {_U_SQL},
ud AS (SELECT DISTINCT id FROM u),
d AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
walk(a, b, t) AS (
    SELECT id, id, 0 FROM ud
    UNION
    SELECT w.a, d.src, w.t + 1 FROM walk w JOIN d ON d.dst = w.b
    WHERE w.t < {t_max}
),
md AS (SELECT a, b, min(t) AS t FROM walk GROUP BY a, b),
agg AS (SELECT a, count(*) AS nr, sum(t) AS ds FROM md WHERE t > 0 GROUP BY a),
nv AS (SELECT count(*) AS n FROM ud)
SELECT ud.id,
       CAST(coalesce(agg.nr, 0) AS BIGINT) AS n_reached,
       CAST(coalesce(agg.ds, 0) AS BIGINT) AS dist_sum,
       round(CASE WHEN coalesce(agg.ds, 0) > 0
             THEN (CAST(agg.nr AS DOUBLE)
                   / CAST((SELECT n FROM nv) - 1 AS DOUBLE))
                  * (CAST(agg.nr AS DOUBLE) / CAST(agg.ds AS DOUBLE))
             ELSE 0.0 END, 6) AS closeness
FROM ud LEFT JOIN agg ON agg.a = ud.id"""


def q_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity (operators/community.py) of the
    LP_ROUNDS-round label-propagation partition — the quality gate a
    pipeline runs after community detection."""
    from pagerank_spark.operators.community import modularity
    from pagerank_spark.operators.labelprop import label_propagation
    g = _graph(spark, sf_dir)
    labels = label_propagation(
        _edges(spark, sf_dir), universe=g.vertices.select("id"),
        max_rounds=LP_ROUNDS).labels
    res = modularity(_edges(spark, sf_dir), labels)
    return res.select("m_edges", "intra_edges",
                      F.round("modularity", 6).alias("modularity"))


def _lpa_modularity_oracle_sql(rounds: int) -> str:
    """LP chain + exact-integer modularity (Σ sums as HUGEINT, one final
    double expression with the engine's exact shape)."""
    parts = _labelprop_parts(rounds) + [
        f"lab AS (SELECT id, label FROM l{rounds})",
        "dg AS (SELECT id, count(*) AS d FROM "
        "(SELECT a AS id FROM s UNION ALL SELECT b FROM s) GROUP BY id)",
        "mi AS (SELECT count(*) AS m, "
        "CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT)"
        " AS intra FROM s JOIN lab la ON la.id = s.a "
        "JOIN lab lb ON lb.id = s.b)",
        "dcs AS (SELECT coalesce(l.label, dg.id) AS label, sum(dg.d) AS dc "
        "FROM dg LEFT JOIN lab l ON l.id = dg.id GROUP BY 1)",
        "dc2 AS (SELECT sum(dc * dc) AS v FROM dcs)",
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT mi.m AS m_edges, mi.intra AS intra_edges,
       round(CAST(mi.intra AS DOUBLE) / CAST(mi.m AS DOUBLE)
             - CAST(dc2.v AS DOUBLE)
               / ((4.0 * CAST(mi.m AS DOUBLE)) * CAST(mi.m AS DOUBLE)), 6)
       AS modularity
FROM mi, dc2""")


def q_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance (operators/community.py conductance) of
    the LP_ROUNDS-round label-propagation partition — flags WHICH
    communities leak, where modularity scores the whole partition."""
    from pagerank_spark.operators.community import conductance
    from pagerank_spark.operators.labelprop import label_propagation
    g = _graph(spark, sf_dir)
    labels = label_propagation(
        _edges(spark, sf_dir), universe=g.vertices.select("id"),
        max_rounds=LP_ROUNDS).labels
    out = conductance(_edges(spark, sf_dir), labels)
    return out.select("label", "n_vertices", "volume", "cut",
                      F.round("conductance", 6).alias("conductance"))


def _conductance_oracle_sql(rounds: int) -> str:
    parts = _labelprop_parts(rounds) + [
        f"lab AS MATERIALIZED (SELECT id, label FROM l{rounds})",
        ("tg AS MATERIALIZED (SELECT coalesce(la.label, s.a) AS la, "
         "coalesce(lb.label, s.b) AS lb FROM s "
         "LEFT JOIN lab la ON la.id = s.a "
         "LEFT JOIN lab lb ON lb.id = s.b)"),
        "m2 AS (SELECT 2 * count(*) AS v FROM tg)",
        ("cutt AS (SELECT label, count(*) AS cut FROM "
         "(SELECT la AS label FROM tg WHERE la <> lb "
         "UNION ALL SELECT lb FROM tg WHERE la <> lb) GROUP BY 1)"),
        ("vol AS (SELECT label, count(*) AS volume FROM "
         "(SELECT la AS label FROM tg UNION ALL SELECT lb FROM tg) "
         "GROUP BY 1)"),
        ("vt AS (SELECT coalesce(l.label, u2.id) AS label, "
         "count(*) AS n_vertices FROM "
         "(SELECT a AS id FROM s UNION SELECT b FROM s) u2 "
         "LEFT JOIN lab l ON l.id = u2.id GROUP BY 1)"),
    ]
    den = "least(coalesce(vol.volume, 0), m2.v - coalesce(vol.volume, 0))"
    return ("WITH " + ",\n".join(parts) + f"""
SELECT vt.label, vt.n_vertices,
       CAST(coalesce(vol.volume, 0) AS BIGINT) AS volume,
       CAST(coalesce(cutt.cut, 0) AS BIGINT) AS cut,
       round(CASE WHEN {den} <= 0 THEN 0.0
             ELSE coalesce(cutt.cut, 0) / CAST({den} AS DOUBLE) END, 6)
       AS conductance
FROM vt LEFT JOIN vol ON vol.label = vt.label
LEFT JOIN cutt ON cutt.label = vt.label CROSS JOIN m2""")


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (operators/truss.py) — the k-truss
    building block, oracle-checked exactly."""
    from pagerank_spark.operators.truss import edge_support
    return edge_support(_edges(spark, sf_dir))


SQL_EDGE_SUPPORT = f"""
WITH {_E_SQL}, {_S_SQL},
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM s e1 JOIN s e2 ON e2.a = e1.b
        JOIN s e3 ON e3.a = e1.a AND e3.b = e2.b),
sides AS (SELECT x AS a, y AS b FROM tri
          UNION ALL SELECT y, z FROM tri
          UNION ALL SELECT x, z FROM tri),
cnt AS (SELECT a, b, count(*) AS c FROM sides GROUP BY a, b)
SELECT s.a, s.b, CAST(coalesce(cnt.c, 0) AS BIGINT) AS support
FROM s LEFT JOIN cnt ON cnt.a = s.a AND cnt.b = s.b
"""


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss edges (peel to fixpoint; the oracle unrolls
    KTRUSS_ORACLE_ROUNDS rounds, extra rounds past the fixpoint no-op)."""
    from pagerank_spark.operators.truss import k_truss
    res = k_truss(_edges(spark, sf_dir), k=KTRUSS_K)
    return res.edges


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    """MATERIALIZED per-round CTEs: each t{r} references t{r-1} three
    times, so un-materialized chains inline the base scan 3^rounds times
    (DuckDB then dies on file handles; same fix as the betweenness
    oracle)."""
    parts = [_E_SQL, _S_SQL, "t0 AS MATERIALIZED (SELECT a, b FROM s)"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"tri{r} AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
            f"FROM t{p} e1 JOIN t{p} e2 ON e2.a = e1.b "
            f"JOIN t{p} e3 ON e3.a = e1.a AND e3.b = e2.b)")
        parts.append(
            f"cnt{r} AS MATERIALIZED (SELECT a, b, count(*) AS c FROM ("
            f"SELECT x AS a, y AS b FROM tri{r} "
            f"UNION ALL SELECT y, z FROM tri{r} "
            f"UNION ALL SELECT x, z FROM tri{r}) GROUP BY a, b)")
        parts.append(
            f"t{r} AS MATERIALIZED (SELECT t.a, t.b FROM t{p} t "
            f"LEFT JOIN cnt{r} c ON c.a = t.a AND c.b = t.b "
            f"WHERE coalesce(c.c, 0) >= {k - 2})")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT a, b FROM t{rounds}")


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-cited pairs (operators/cocitation.py), citing-page
    out-degree capped at COCITE_CAP."""
    from pagerank_spark.operators.cocitation import cocitation_topk
    return cocitation_topk(_edges(spark, sf_dir), top_k=COCITE_K,
                           max_degree=COCITE_CAP)


def q_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bibliographically coupled pairs, cited-page in-degree capped."""
    from pagerank_spark.operators.cocitation import coupling_topk
    return coupling_topk(_edges(spark, sf_dir), top_k=COCITE_K,
                         max_degree=COCITE_CAP)


def _pairs_oracle_sql(middle: str, leaf: str, cap: int, k: int) -> str:
    return f"""
WITH {_E_SQL},
dd AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
md AS (SELECT {middle}, count(*) AS c FROM dd GROUP BY {middle}),
ok AS (SELECT {middle} FROM md WHERE c <= {cap}),
p AS (SELECT x.{leaf} AS a, y.{leaf} AS b
      FROM dd x JOIN dd y ON y.{middle} = x.{middle} AND y.{leaf} > x.{leaf}
      JOIN ok ON ok.{middle} = x.{middle}),
c AS (SELECT a, b, count(*) AS cnt FROM p GROUP BY a, b)
SELECT a, b, cnt FROM c ORDER BY cnt DESC, a, b LIMIT {k}
"""


def q_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex mean out-degree of distinct out-neighbors
    (operators/graphstats.py) — exact integer sums + one division."""
    from pagerank_spark.operators.graphstats import avg_neighbor_degree
    return avg_neighbor_degree(_edges(spark, sf_dir)).select(
        "id", "nbr_cnt", "nbr_deg_sum",
        F.round("avg_nbr_deg", 6).alias("avg_nbr_deg"))


SQL_AVG_NEIGHBOR_DEGREE = f"""
WITH {_E_SQL},
dd AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
dg AS (SELECT src AS v, count(*) AS d FROM dd GROUP BY src)
SELECT dd.src AS id, count(*) AS nbr_cnt,
       CAST(sum(coalesce(dg.d, 0)) AS BIGINT) AS nbr_deg_sum,
       round(CAST(sum(coalesce(dg.d, 0)) AS BIGINT) / count(*), 6)
           AS avg_nbr_deg
FROM dd LEFT JOIN dg ON dg.v = dd.dst
GROUP BY dd.src
"""


def q_degree_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact degree quantile/max summary (graphstats.
    degree_quantiles) — the skew numbers that size salting (K2/K4)."""
    from pagerank_spark.operators.graphstats import degree_quantiles
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    return degree_quantiles(e, universe=uni)


SQL_DEGREE_QUANTILES = f"""
WITH {_E_SQL}, {_U_SQL}, {_OD_SQL},
idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst),
degs AS (SELECT coalesce(od.c, 0) AS od, coalesce(idg.c, 0) AS idg
         FROM u LEFT JOIN od ON od.id = u.id LEFT JOIN idg ON idg.id = u.id)
SELECT round(quantile_cont(od, 0.5), 6) AS out_p50,
       round(quantile_cont(od, 0.9), 6) AS out_p90,
       round(quantile_cont(od, 0.99), 6) AS out_p99,
       max(od) AS out_max,
       round(quantile_cont(idg, 0.5), 6) AS in_p50,
       round(quantile_cont(idg, 0.9), 6) AS in_p90,
       round(quantile_cont(idg, 0.99), 6) AS in_p99,
       max(idg) AS in_max
FROM degs
"""


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree histogram + integer CCDF (operators/graphstats.py) over
    the full vertex universe (danglers in the deg=0 bucket)."""
    from pagerank_spark.operators.graphstats import degree_distribution
    e = _edges(spark, sf_dir)
    uni = e.select(F.col("src").alias("id")).unionAll(
        e.select(F.col("dst").alias("id"))).distinct()
    return degree_distribution(e, universe=uni)


SQL_DEGREE_DISTRIBUTION = f"""
WITH {_E_SQL}, {_U_SQL},
dd AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
dg AS (SELECT src AS id, count(*) AS c FROM dd GROUP BY src),
degs AS (SELECT u.id, coalesce(dg.c, 0) AS deg
         FROM u LEFT JOIN dg ON dg.id = u.id),
hist AS (SELECT deg, count(*) AS n_vertices FROM degs GROUP BY deg)
SELECT deg, n_vertices,
       CAST(sum(n_vertices) OVER (ORDER BY deg DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ge
FROM hist
"""


PPR_BATCH_SETS = ((0, 0, 8), (1, 8, 16))   # (sid, lo, hi) id-range seeds


def q_ppr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch personalized PageRank (operators/ppr_batch.py): two seed sets
    advance through PR_ITERS shared supersteps — one edges⋈state gather
    per superstep for the whole batch."""
    from pagerank_spark.operators.ppr_batch import personalized_pagerank_batch
    g = _graph(spark, sf_dir)
    rows = []
    for sid, lo, hi in PPR_BATCH_SETS:
        rows.append(g.vertices.filter((F.col("id") >= lo) & (F.col("id") < hi))
                    .select(F.lit(sid).alias("sid"), "id",
                            F.lit(1.0).alias("p")))
    seeds = rows[0]
    for r in rows[1:]:
        seeds = seeds.unionByName(r)
    res = personalized_pagerank_batch(g, seeds, alpha=ALPHA,
                                      iterations=PR_ITERS)
    n = float(g.n_vertices)
    return res.select("sid", "id",
                      F.round(F.col("rank") * F.lit(n), 6).alias("rank_n"))


def _ppr_batch_oracle_sql(iters: int) -> str:
    """Unrolled batch PPR keyed (sid, id); expression shapes mirror
    ppr_batch.py exactly. MATERIALIZED r{k}: each round references the
    previous state three times (mass, gather, reattach)."""
    sd_union = " UNION ALL ".join(
        f"SELECT {sid} AS sid, id FROM u WHERE id >= {lo} AND id < {hi}"
        for sid, lo, hi in PPR_BATCH_SETS)
    parts = [
        _E_SQL, _U_SQL, _OD_SQL,
        "nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM u)",
        "we AS (SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src)",
        "dang AS (SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL)",
        f"sd AS MATERIALIZED ({sd_union})",
        "sk AS (SELECT sid, CAST(count(*) AS DOUBLE) AS k FROM sd GROUP BY sid)",
        "tp AS MATERIALIZED (SELECT sd.sid, sd.id, 1.0 / sk.k AS p "
        "FROM sd JOIN sk ON sk.sid = sd.sid)",
        "sids AS (SELECT DISTINCT sid FROM sd)",
        "r0 AS MATERIALIZED (SELECT s.sid, u.id, "
        "1.0 / (SELECT n FROM nv) AS rank, coalesce(tp.p, 0.0) AS p "
        "FROM sids s CROSS JOIN u "
        "LEFT JOIN tp ON tp.sid = s.sid AND tp.id = u.id)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"m{k} AS (SELECT r.sid, coalesce(sum(r.rank), 0.0) AS mass "
            f"FROM r{p} r JOIN dang d ON d.id = r.id GROUP BY r.sid)")
        parts.append(
            f"c{k} AS (SELECT r.sid, we.dst AS id, sum(r.rank * we.w) AS c "
            f"FROM we JOIN r{p} r ON r.id = we.src GROUP BY r.sid, we.dst)")
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT r.sid, r.id, "
            f"{ALPHA} * coalesce(c.c, 0.0) "
            f"+ ({ALPHA} * coalesce(m.mass, 0.0) + {1.0 - ALPHA}) * r.p "
            f"AS rank, r.p "
            f"FROM r{p} r LEFT JOIN c{k} c ON c.sid = r.sid AND c.id = r.id "
            f"LEFT JOIN m{k} m ON m.sid = r.sid)")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT sid, id, round(rank * (SELECT n FROM nv), 6) AS rank_n
FROM r{iters}""")


PUSH_SEED = 1       # in-universe seed (BFS_SOURCE family)
PUSH_EPS = 5e-5     # converges in 6 rounds on the sf0.01 graph
PUSH_ROUNDS = 8     # oracle unroll; rounds past the fixpoint are no-ops


def q_ppr_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-seed approximate PPR by forward push (operators/ppr_push.py,
    Andersen-Chung-Lang FOCS 2006): settled mass p + residual r per
    vertex, densified over the universe (the operator's own state is
    sparse — untouched vertices ARE p = r = 0). Oracle unrolls
    {PUSH_ROUNDS} synchronous push rounds with the same degree-scaled
    active rule; extra rounds past the fixpoint are no-ops on an empty
    active set."""
    from pagerank_spark.operators.ppr_push import ppr_push
    g = _graph(spark, sf_dir)
    res = ppr_push(g, seed=PUSH_SEED, alpha=ALPHA, eps=PUSH_EPS,
                   max_rounds=PUSH_ROUNDS)
    assert res.converged, "push did not converge within max_rounds"
    assert res.rounds <= PUSH_ROUNDS, (
        f"push took {res.rounds} rounds > {PUSH_ROUNDS}-round oracle unroll")
    return (g.vertices.select("id")
            .join(res.scores, "id", "left")
            .select("id",
                    F.round(F.coalesce("p", F.lit(0.0)), 8).alias("p_approx"),
                    F.round(F.coalesce("r", F.lit(0.0)), 8).alias("residual")))


def _push_parts(rounds: int, seed: int, eps: float) -> list[str]:
    """CTE list for the dense unroll of the synchronous forward-push
    fixpoint; expression shapes mirror ppr_push.py (active predicate,
    (1-α) settle, α forward, dangling re-injection at the seed). Shared
    by the ppr_push and ppr_sweep_cut oracles; the final state is
    s{rounds}(id, p, r)."""
    parts = [
        _E_SQL, _U_SQL, _OD_SQL,
        "we AS (SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src)",
        "dang AS (SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL)",
        ("deg AS MATERIALIZED (SELECT u.id, greatest(coalesce(od.c, 0), 1) AS d "
         "FROM u LEFT JOIN od ON od.id = u.id)"),
        (f"s0 AS MATERIALIZED (SELECT id, 0.0 AS p, "
         f"CASE WHEN id = {seed} THEN 1.0 ELSE 0.0 END AS r FROM u)"),
    ]
    for k in range(1, rounds + 1):
        q = k - 1
        parts += [
            (f"a{k} AS MATERIALIZED (SELECT s.id, s.r FROM s{q} s "
             f"JOIN deg d ON d.id = s.id WHERE s.r > {eps!r} * d.d)"),
            (f"f{k} AS (SELECT we.dst AS id, {ALPHA} * a.r * we.w AS flow "
             f"FROM we JOIN a{k} a ON a.id = we.src "
             f"UNION ALL SELECT {seed} AS id, {ALPHA} * a.r AS flow "
             f"FROM a{k} a JOIN dang dd ON dd.id = a.id)"),
            (f"g{k} AS MATERIALIZED (SELECT id, sum(flow) AS flow "
             f"FROM f{k} GROUP BY id)"),
            (f"s{k} AS MATERIALIZED (SELECT s.id, "
             f"s.p + CASE WHEN a.id IS NOT NULL THEN {1.0 - ALPHA} * s.r "
             f"ELSE 0.0 END AS p, "
             f"CASE WHEN a.id IS NOT NULL THEN 0.0 ELSE s.r END "
             f"+ coalesce(g.flow, 0.0) AS r "
             f"FROM s{q} s LEFT JOIN a{k} a ON a.id = s.id "
             f"LEFT JOIN g{k} g ON g.id = s.id)"),
        ]
    return parts


def _ppr_push_sql(rounds: int = PUSH_ROUNDS, seed: int = PUSH_SEED,
                  eps: float = PUSH_EPS) -> str:
    return ("WITH " + ",\n".join(_push_parts(rounds, seed, eps))
            + f"\nSELECT id, round(p, 8) AS p_approx, "
              f"round(r, 8) AS residual FROM s{rounds}")


def q_ppr_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local community around PUSH_SEED: forward push then the ACL
    conductance sweep (operators/sweepcut.py). Full sweep curve —
    (k, id, p, d, volume, cut, conductance) per prefix of the
    (p/d desc, id) support order on the undirected simple graph — so the
    oracle checks every prefix, not just the argmin."""
    from pagerank_spark.operators.ppr_push import ppr_push
    from pagerank_spark.operators.sweepcut import sweep_cut
    g = _graph(spark, sf_dir)
    res = ppr_push(g, seed=PUSH_SEED, alpha=ALPHA, eps=PUSH_EPS,
                   max_rounds=PUSH_ROUNDS)
    assert res.converged, "push did not converge within max_rounds"
    assert res.rounds <= PUSH_ROUNDS, (
        f"push took {res.rounds} rounds > {PUSH_ROUNDS}-round oracle unroll")
    return sweep_cut(g, res.scores)


def _ppr_sweep_cut_sql(rounds: int = PUSH_ROUNDS, seed: int = PUSH_SEED,
                       eps: float = PUSH_EPS) -> str:
    """Push unroll (shared CTEs) + the sweep replayed in SQL: identical
    (round(p/d, 8) DESC, id) order key, window prefix sums for volume and
    the difference-array cut curve (sweepcut.py)."""
    inf = 2**31 - 1
    parts = _push_parts(rounds, seed, eps) + [
        ("und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, "
         "greatest(src, dst) AS b FROM e WHERE src <> dst)"),
        ("degu AS (SELECT id, count(*) AS d FROM (SELECT a AS id FROM und "
         "UNION ALL SELECT b FROM und) GROUP BY id)"),
        "m2 AS (SELECT 2 * count(*) AS v FROM und)",
        (f"sup AS (SELECT s.id, s.p, coalesce(dg.d, 0) AS d, "
         f"round(s.p / greatest(coalesce(dg.d, 0), 1), 8) AS ratio "
         f"FROM s{rounds} s LEFT JOIN degu dg ON dg.id = s.id "
         f"WHERE s.p > 0)"),
        ("rk AS MATERIALIZED (SELECT id, p, d, "
         "row_number() OVER (ORDER BY ratio DESC, id) AS k FROM sup)"),
        (f"spans AS (SELECT least(coalesce(ra.k, {inf}), "
         f"coalesce(rb.k, {inf})) AS lo, greatest(coalesce(ra.k, {inf}), "
         f"coalesce(rb.k, {inf})) AS hi FROM und "
         f"LEFT JOIN rk ra ON ra.id = und.a "
         f"LEFT JOIN rk rb ON rb.id = und.b)"),
        (f"deltas AS (SELECT k, sum(dlt) AS dlt FROM ("
         f"SELECT lo AS k, 1 AS dlt FROM spans WHERE lo < {inf} "
         f"UNION ALL SELECT hi, -1 FROM spans WHERE hi < {inf}) "
         f"GROUP BY k)"),
        ("sw AS (SELECT rk.k, rk.id, rk.p, rk.d, "
         "sum(rk.d) OVER (ORDER BY rk.k) AS volume, "
         "sum(coalesce(deltas.dlt, 0)) OVER (ORDER BY rk.k) AS cut "
         "FROM rk LEFT JOIN deltas ON deltas.k = rk.k)"),
    ]
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT k, id, round(p, 8) AS p, d, "
              "CAST(volume AS BIGINT) AS volume, CAST(cut AS BIGINT) AS cut, "
              "round(CASE WHEN least(volume, m2.v - volume) <= 0 THEN 0.0 "
              "ELSE cut / CAST(least(volume, m2.v - volume) AS DOUBLE) END, "
              "6) AS conductance "
              "FROM sw CROSS JOIN m2 ORDER BY k")


HK_T = 2.0
HK_TERMS = 8


def q_heat_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated heat-kernel diffusion from the uniform distribution
    (operators/diffusion.py, Chung PNAS 2007): Poisson-weighted walk
    series, dangling mass re-injected ∝ s, {HK_TERMS} terms at
    t={HK_T}."""
    from pagerank_spark.operators.diffusion import heat_kernel_pagerank
    g = _graph(spark, sf_dir)
    return heat_kernel_pagerank(g, t=HK_T, terms=HK_TERMS)


def _heat_kernel_sql(t: float = HK_T, terms: int = HK_TERMS) -> str:
    """Dense unroll of the truncated series; the Poisson coefficients are
    the SAME Python floats the operator inlines (heat_coefficients), so
    both engines run identical literal arithmetic."""
    from pagerank_spark.operators.diffusion import heat_coefficients
    cs = heat_coefficients(t, terms)
    parts = [
        _E_SQL, _U_SQL, _OD_SQL,
        "we AS (SELECT e.src, e.dst, 1.0 / od.c AS w FROM e JOIN od ON od.id = e.src)",
        "dang AS (SELECT u.id FROM u LEFT JOIN od ON od.id = u.id WHERE od.c IS NULL)",
        "nn AS (SELECT count(*) AS c FROM u)",
        ("x0 AS MATERIALIZED (SELECT id, 1.0 / nn.c AS x "
         "FROM u CROSS JOIN nn)"),
    ]
    for j in range(1, terms + 1):
        q = j - 1
        parts += [
            (f"d{q} AS (SELECT coalesce(sum(x.x), 0.0) AS d FROM x{q} x "
             f"JOIN dang ON dang.id = x.id)"),
            (f"g{q} AS (SELECT we.dst AS id, sum(x.x * we.w) AS m "
             f"FROM we JOIN x{q} x ON x.id = we.src GROUP BY we.dst)"),
            (f"x{j} AS MATERIALIZED (SELECT u.id, "
             f"coalesce(g.m, 0.0) + d{q}.d * (1.0 / nn.c) AS x "
             f"FROM u CROSS JOIN nn CROSS JOIN d{q} "
             f"LEFT JOIN g{q} g ON g.id = u.id)"),
        ]
    series = " + ".join(f"{cs[j]!r} * x{j}.x" for j in range(terms + 1))
    joins = " ".join(f"JOIN x{j} ON x{j}.id = u.id"
                     for j in range(terms + 1))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT u.id, round({series}, 8) AS hk FROM u {joins}")


def q_streaming_edge_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming link ingestion (streaming/ingest.py): synth pages land in
    two micro-batches, outlinks extracted per batch with the shared pandas
    UDF, appended to an edge log, compacted to latest-crawl edges.
    Oracled on the (src_url, dst_url) edge set via the generative-rule
    VALUES unroll (like pagerank_webgraph_e2e); the xxhash64 vertex ids
    are engine-specific and stay pytest-checked (stream-vs-batch equality,
    tests/test_ingest_stream.py)."""
    import shutil
    import tempfile

    from pagerank_spark.sources.synth import synth_pages
    from pagerank_spark.streaming.ingest import (compact_edges, ingest_edges,
                                                 stream_pages)
    d = tempfile.mkdtemp(prefix="stream_ingest_")
    try:
        pages = synth_pages(spark, n_pages=STREAM_INGEST_PAGES) \
            .localCheckpoint(eager=True)
        land = f"{d}/landing"
        pages.filter("xxhash64(url) % 2 = 0").coalesce(1) \
             .write.mode("append").parquet(land)
        pages.filter("xxhash64(url) % 2 != 0").coalesce(1) \
             .write.mode("append").parquet(land)
        q = ingest_edges(stream_pages(spark, land, max_files_per_trigger=1),
                         out_dir=f"{d}/edges", checkpoint_dir=f"{d}/ckpt")
        q.processAllAvailable()
        q.stop()
        return (compact_edges(spark, f"{d}/edges")
                .select("src_url", "dst_url")
                .orderBy("src_url", "dst_url")
                .localCheckpoint(eager=True))   # materialize before rmtree
    finally:
        shutil.rmtree(d, ignore_errors=True)


STREAM_INGEST_PAGES = 500  # fixture size above


def _stream_ingest_oracle_sql() -> str:
    from pagerank_spark.sources.synth import outlink_ids
    vals = ", ".join(f"({i},{j})"
                     for i in range(STREAM_INGEST_PAGES)
                     for j in outlink_ids(i))
    url = "printf('https://site%d.example/page%d', {c} % 97, {c})"
    return f"""
WITH e(src, dst) AS (VALUES {vals}),
d AS (SELECT DISTINCT src, dst FROM e)
SELECT {url.format(c='src')} AS src_url, {url.format(c='dst')} AS dst_url
FROM d
"""


# ---------------------------------------------------------------------------
# relational coverage (SURVEY §2.4-2.5: joins, aggs, windows, sort/limit,
# set ops, distinct aggregates) — DECIMAL-exact money sums
# ---------------------------------------------------------------------------


def _dsum(col, scale: int = 6):
    """Order-independent exact sum of a double column, as double.

    scale=6 represents the synthetic money columns' products EXACTLY
    (2-decimal price x 2-decimal discount x 2-decimal tax), so the
    double->decimal cast never sits on a rounding boundary and both
    engines accumulate identical decimals regardless of row order."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dsum(disc).alias("sum_disc_price"),
        _dsum(charge).alias("sum_charge"),
        (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
        (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    ).orderBy("l_returnflag", "l_linestatus"))


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(_dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_Q3 = """
SELECT o_orderkey, o_orderpriority,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


SQL_Q5 = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn"))


SQL_WINDOW_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 3
"""


HLL_B_USERS, HLL_B_EVENTS = 10, 8


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx COUNT DISTINCT per event_type (operators/hll.py):
    distinct users at b={HLL_B_USERS} (the 150-user cardinality lands in
    the linear-counting branch) and distinct event ids at
    b={HLL_B_EVENTS} (the 10k cardinality exercises the raw harmonic
    estimator). Registers, the integer harmonic sum, and both correction
    branches replay bit-identically in the oracle."""
    from pagerank_spark.operators.hll import hll_count_distinct
    ev = _t(spark, sf_dir, "events")
    users = hll_count_distinct(ev, ["event_type"], "user_id",
                               b=HLL_B_USERS, out_col="approx_users")
    evts = hll_count_distinct(ev, ["event_type"], "event_id",
                              b=HLL_B_EVENTS, out_col="approx_events")
    return users.join(evts, "event_type")


def _hll_distinct_sql() -> str:
    from pagerank_spark.operators.hll import hll_sql
    ua = hll_sql("event_type", "user_id", "events",
                 b=HLL_B_USERS, out_col="approx_users")
    eb = hll_sql("event_type", "event_id", "events",
                 b=HLL_B_EVENTS, out_col="approx_events")
    return f"""
SELECT ua.grp AS event_type, ua.approx_users, eb.approx_events
FROM (WITH {ua}) ua JOIN (WITH {eb}) eb ON eb.grp = ua.grp
"""


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 _dsum(F.col("value"), 6).alias("sum_value")))


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (event_type, day): all four grouping sets in
    one pass (Spark Expand — each input row fans out once per set,
    partials combine map-side; no self-union of scans). grouping_id
    disambiguates NULL-as-total from a NULL group value."""
    ev = _t(spark, sf_dir, "events")
    return (ev.cube(F.col("event_type"),
                    F.date_trunc("day", "ts").alias("day"))
            .agg(F.grouping_id().alias("gid"),
                 F.count(F.lit(1)).alias("n_events"),
                 _dsum(F.col("value"), 6).alias("sum_value"))
            .select("gid",
                    F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce(F.date_format("day", "yyyy-MM-dd"),
                               F.lit("ALL")).alias("day"),
                    "n_events", "sum_value"))


SQL_EVENTS_CUBE = """
SELECT grouping(event_type) * 2 + grouping(date_trunc('day', ts)) AS gid,
       coalesce(event_type, 'ALL') AS event_type,
       coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY CUBE (event_type, date_trunc('day', ts))
"""


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization via lag + cumulative flag sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis(F.col("ts").cast("timestamp")) - F.unix_millis(F.lag("ts").over(w).cast("timestamp"))
    new_sess = F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)
    return (ev.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_EVENTS_SESSIONS = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): every purchase event gets
    the user's latest click at-or-before it. Clicks pre-aggregate to
    unique (user, ts) per the operator's determinism contract; the oracle
    is DuckDB's NATIVE ASOF LEFT JOIN — an independent engine
    implementation of the semantics, not a replay of ours."""
    from pagerank_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", ms.alias("ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .groupBy("user_id", ms.alias("ts"))
              .agg(F.max("value").alias("click_value")))
    res = asof_join(purchases, clicks, on="user_id")
    return res.select(
        "event_id", "user_id", "ts",
        F.col("click_value_r"), F.col("ts_r"),
        (F.col("ts") - F.col("ts_r")).alias("gap_ms")).orderBy("event_id")


SQL_EVENTS_ASOF_CLICK = """
WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_ms(ts) AS ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.event_id, p.user_id, p.ts,
       c.click_value AS click_value_r, c.ts AS ts_r,
       p.ts - c.ts AS gap_ms
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
"""


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WINDOW_MS = 24 * 3600 * 1000   # 150 -> 60 -> 25 users at sf0.01


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (operators/funnel.py): greedy-
    earliest per-user sequence matching with 24-hour telescoping step
    windows (exact for per-step windows — see the module docstring's
    exchange argument)."""
    from pagerank_spark.operators.funnel import funnel
    return funnel(_t(spark, sf_dir, "events"), FUNNEL_STEPS,
                  step_window_ms=FUNNEL_WINDOW_MS)


def _events_funnel_sql(steps: list[str] = FUNNEL_STEPS,
                       window_ms: int = FUNNEL_WINDOW_MS) -> str:
    parts = [(f"s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t FROM events "
              f"WHERE event_type = '{steps[0]}' GROUP BY user_id)")]
    for i, st in enumerate(steps[1:], start=2):
        q = i - 1
        parts.append(
            f"s{i} AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t "
            f"FROM events e JOIN s{q} ON s{q}.user_id = e.user_id "
            f"WHERE e.event_type = '{st}' AND epoch_ms(e.ts) > s{q}.t "
            f"AND epoch_ms(e.ts) - s{q}.t <= {window_ms} "
            f"GROUP BY e.user_id)")
    unions = " UNION ALL ".join(
        f"SELECT {i + 1} AS step, '{st}' AS event_type, count(*) AS n "
        f"FROM s{i + 1}" for i, st in enumerate(steps))
    parts.append(f"c AS ({unions})")
    parts.append("n1 AS (SELECT n FROM c WHERE step = 1)")
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT step, event_type, CAST(c.n AS BIGINT) AS n_users, "
              "round(c.n / CAST(n1.n AS DOUBLE), 6) AS conversion "
              "FROM c CROSS JOIN n1 WHERE c.n > 0 ORDER BY step")


def q_customers_without_urgent_orders(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Anti-join / EXCEPT surface. The predicate ('no 1-URGENT order')
    exists so the query returns rows on the driver fixture: the plain
    'no orders at all' variant matched trivially on 0 rows at sf0.01
    (every customer has orders there) — a green that could never fail."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    urgent = (_t(spark, sf_dir, "orders")
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")))
    return cust.exceptAll(urgent.distinct()).distinct()


SQL_CUSTOMERS_WITHOUT_URGENT_ORDERS = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q_distinct_custkeys_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_t(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.count(F.lit(1)).alias("n_orders")))


SQL_DISTINCT_CUSTKEYS = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis, dedup, similarity, multimodal
# ---------------------------------------------------------------------------

_TOK_SQL = "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), x -> x <> '')"


def _sw_hits_sql(lang: str) -> str:
    from pagerank_spark.operators.textops import STOPWORDS
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({_TOK_SQL}, x -> x IN ({lst})))"


def q_docs_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pagerank_spark.operators import textops
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        textops.token_count(t).alias("n_tokens"),
        textops.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        textops.language_id(t).alias("lang_pred"),
        F.round(textops.quality_score(t), 6).alias("quality"),
        textops.fingerprint_exact(t).alias("fp_md5"),
    )


def _docs_profile_sql() -> str:
    from pagerank_spark.operators.textops import BPE_ISH, STOPWORDS
    hits = {lang: _sw_hits_sql(lang) for lang in STOPWORDS}
    langs = list(STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in langs) + " END"
    return f"""
WITH base AS (
  SELECT doc_id, text,
         CAST(len({_TOK_SQL}) AS INT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{BPE_ISH}')) AS INT) AS n_bpe_tokens,
         CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS INT) AS n_punct,
         CAST(length(coalesce(text, '')) AS INT) AS n_chars,
         {', '.join(f"CAST({h} AS INT) AS h_{lang}" for lang, h in hits.items())}
  FROM documents)
SELECT doc_id, n_tokens, n_bpe_tokens,
       {case} AS lang_pred,
       round(0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * least(h_en / greatest(n_tokens, 1) / 0.5, 1.0)
           + 0.3 * (1.0 - least(n_punct / greatest(n_chars, 1) / 0.5, 1.0)), 6) AS quality,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp_md5
FROM base
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/textops.py pii_scrub): emails, phones, and
    IPv4 addresses injected deterministically from doc_id (the fixture docs
    carry no PII), then masked by the chained all-JVM regexp pass; both
    engines derive the identical salted text, so the redacted output and
    per-kind counts hash-match exactly."""
    from pagerank_spark.operators.textops import pii_scrub
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(d % 4 == 0, F.concat(
                F.lit(" mail user"), d.cast("string"),
                F.lit("@example.com")))
             .when(d % 4 == 1, F.concat(
                F.lit(" call +1 555-"),
                F.lpad(((d * 7) % 1000).cast("string"), 3, "0"), F.lit("-"),
                F.lpad((d % 10000).cast("string"), 4, "0")))
             .when(d % 4 == 2, F.concat(
                F.lit(" from 10."), ((d * 3) % 256).cast("string"),
                F.lit("."), ((d * 5) % 256).cast("string"),
                F.lit("."), (d % 256).cast("string")))
             .otherwise(F.lit("")),
        ).alias("text"))
    return pii_scrub(salted).select(
        "doc_id", "text_clean", "n_email", "n_phone", "n_ip", "n_pii")


def _pii_oracle_sql() -> str:
    from pagerank_spark.operators.textops import (PII_EMAIL, PII_IPV4,
                                                  PII_PHONE)
    return f"""
WITH salted AS (
  SELECT doc_id,
         coalesce(text, '') || CASE
           WHEN doc_id % 4 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
                || '@example.com'
           WHEN doc_id % 4 = 1 THEN ' call +1 555-'
                || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN doc_id % 4 = 2 THEN ' from 10.'
                || CAST((doc_id * 3) % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 5) % 256 AS VARCHAR)
                || '.' || CAST(doc_id % 256 AS VARCHAR)
           ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g'),
           '{PII_IPV4}', '<IP>', 'g') AS text_clean,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS INT) AS n_ip,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}'))
          + len(regexp_extract_all(text, '{PII_PHONE}'))
          + len(regexp_extract_all(text, '{PII_IPV4}')) AS INT) AS n_pii
FROM salted
"""


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style in-document repetition filter (operators/textops.py
    repetition_stats): duplicate n-gram fraction for n=1,2,3 over the
    whitespace tokens plus the 2-gram keep/drop verdict — the synthetic
    docs repeat words naturally, so the fractions are non-trivial."""
    from pagerank_spark.operators.textops import repetition_stats
    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs)


def _repetition_oracle_sql(max_dup_2gram: float = 0.4) -> str:
    def dup(n: int) -> str:
        total = f"(n_tokens - {n - 1})"
        return (f"round(CASE WHEN {total} <= 0 THEN 0.0 ELSE "
                f"1.0 - len(list_distinct(g{n})) / CAST({total} AS DOUBLE) "
                f"END, 6)")
    return f"""
WITH base AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
g AS (SELECT doc_id, len(t) AS n_tokens, t AS g1,
  list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS g2,
  list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
FROM base)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       {dup(1)} AS dup_1gram, {dup(2)} AS dup_2gram, {dup(3)} AS dup_3gram,
       {dup(2)} <= {max_dup_2gram} AS keep
FROM g
"""


PASSAGE_W = 20  # tokens per passage (fixture texts are ~80 tokens -> ~4-5)


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style passage-level dedup (operators/dedup.py passage_dedup):
    docs split into {PASSAGE_W}-token passages, globally-first occurrence
    of each distinct passage kept, per-doc drop stats + surviving text.
    The synthetic corpus repeats token windows across docs (~7% of sf0.01
    passages are duplicated), so the check is non-trivial."""
    from pagerank_spark.operators.dedup import passage_dedup
    docs = _t(spark, sf_dir, "documents")
    return passage_dedup(docs, w=PASSAGE_W)


def _passage_dedup_sql(w: int = PASSAGE_W) -> str:
    return f"""
WITH tk AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
p AS (
  SELECT doc_id, g.i AS pos,
         array_to_string(t[g.i*{w}+1 : g.i*{w}+{w}], ' ') AS passage
  FROM tk, LATERAL (SELECT unnest(range(0,
       CAST(ceil(len(t) / CAST({w} AS DOUBLE)) AS BIGINT))) AS i) g),
ranked AS (
  SELECT doc_id, pos, passage,
         row_number() OVER (PARTITION BY passage
                            ORDER BY doc_id, pos) AS rn
  FROM p),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(passage, ' ' ORDER BY pos) AS dedup_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_passages FROM p GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(tot.n_passages, 0) AS BIGINT) AS n_passages,
       CAST(coalesce(tot.n_passages, 0) - coalesce(kept.n_kept, 0)
            AS BIGINT) AS n_dropped,
       coalesce(kept.dedup_text, '') AS dedup_text
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN kept ON d.doc_id = kept.doc_id
"""


MIRROR_MIN_SHARED, MIRROR_MAX_HF = 2, 10


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection (operators/mirrors.py): host pairs ranked by
    exact Jaccard over their distinct {PASSAGE_W}-token passage sets,
    pairs sharing ≥ {MIRROR_MIN_SHARED} passages, boilerplate passages
    (> {MIRROR_MAX_HF} hosts) dropped before pairing. Non-trivial at
    sf0.01: the planted document duplicates scatter across sources."""
    from pagerank_spark.operators.mirrors import mirror_hosts
    return mirror_hosts(_t(spark, sf_dir, "documents"), w=PASSAGE_W,
                        min_shared=MIRROR_MIN_SHARED,
                        max_host_freq=MIRROR_MAX_HF)


def _mirror_hosts_sql(w: int = PASSAGE_W) -> str:
    return f"""
WITH tk AS (SELECT doc_id, source, {_TOK_SQL} AS t FROM documents),
p AS (
  SELECT DISTINCT source AS host,
         array_to_string(t[g.i*{w}+1 : g.i*{w}+{w}], ' ') AS passage
  FROM tk, LATERAL (SELECT unnest(range(0,
       CAST(ceil(len(t) / CAST({w} AS DOUBLE)) AS BIGINT))) AS i) g),
sz AS (SELECT host, count(*) AS n FROM p GROUP BY host),
rare AS (SELECT passage FROM (SELECT passage, count(*) AS hf FROM p
         GROUP BY passage) WHERE hf <= {MIRROR_MAX_HF}),
pr AS (SELECT p.host, p.passage FROM p JOIN rare r
       ON r.passage = p.passage),
pairs AS (
  SELECT x.host AS host_a, y.host AS host_b,
         CAST(count(*) AS BIGINT) AS shared
  FROM pr x JOIN pr y ON y.passage = x.passage AND x.host < y.host
  GROUP BY 1, 2 HAVING count(*) >= {MIRROR_MIN_SHARED})
SELECT host_a, host_b, shared, a.n AS n_a, b.n AS n_b,
       round(shared / (a.n + b.n - shared), 6) AS jaccard
FROM pairs JOIN sz a ON a.host = host_a JOIN sz b ON b.host = host_b
"""


# 18 tokens; "host" + the source value in front make each footer exactly
# PASSAGE_W=20 tokens, so a planted footer IS passage 0 of its document
HB_FOOTER_TAIL = ("footer copyright all rights reserved subscribe newsletter "
                  "contact privacy terms cookie policy sitemap navigation "
                  "home about help legal")
HB_MIN_FRAC = 0.25   # planted footers sit on ~1/3 of each host's pages;
HB_MIN_PAGES = 5     # the corpus' natural max passage repetition is 2/25


def q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level boilerplate detection (operators/dedup.py
    host_boilerplate — the CCNet domain-granularity heuristic): passages
    on > {HB_MIN_FRAC:.0%} of a host's pages are template, not content.
    `source` plays the host. The fixture corpus has no real site
    templates, so the query PLANTS one per host (the densest-subgraph
    pattern): docs with doc_id % 3 == 0 get a per-source 20-token footer
    PREPENDED, which lands exactly in passage 0 on ~1/3 of every host's
    25 pages; natural cross-doc repetition tops out at 2/25 and must NOT
    be flagged."""
    from pagerank_spark.operators.dedup import host_boilerplate
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id", "source",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("host "), F.col("source"),
                        F.lit(" " + HB_FOOTER_TAIL + " "),
                        F.coalesce("text", F.lit(""))))
         .otherwise(F.col("text")).alias("text"))
    return host_boilerplate(planted, host_col="source", w=PASSAGE_W,
                            min_pages=HB_MIN_PAGES, min_frac=HB_MIN_FRAC)


def _host_boilerplate_sql(w: int = PASSAGE_W, min_pages: int = HB_MIN_PAGES,
                          min_frac: float = HB_MIN_FRAC) -> str:
    return f"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 = 0
              THEN 'host ' || source || ' {HB_FOOTER_TAIL} '
                   || coalesce(text, '')
              ELSE text END AS text
  FROM documents),
tk AS (SELECT doc_id, source, {_TOK_SQL} AS t FROM planted),
p AS (
  SELECT DISTINCT doc_id, source AS host,
         array_to_string(t[g.i*{w}+1 : g.i*{w}+{w}], ' ') AS passage
  FROM tk, LATERAL (SELECT unnest(range(0,
       CAST(ceil(len(t) / CAST({w} AS DOUBLE)) AS BIGINT))) AS i) g),
per AS (SELECT host, passage, count(*) AS n_pages_with
        FROM p GROUP BY 1, 2),
pages AS (SELECT source AS host, count(DISTINCT doc_id) AS n_pages
          FROM planted GROUP BY 1)
SELECT per.host, per.passage, per.n_pages_with, pages.n_pages,
       round(per.n_pages_with / CAST(pages.n_pages AS DOUBLE), 6) AS frac
FROM per JOIN pages USING (host)
WHERE pages.n_pages >= {min_pages}
  AND per.n_pages_with > {min_frac} * pages.n_pages
"""


PS_K = 50  # priority_sample driver-query sample size


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duffield-Lund-Thorup priority sampling (operators/splits.py
    priority_sample): size-weighted top-{PS_K} document subset with the
    DLT unbiased subset-sum estimator. Weight = n_chars + 1 (integer,
    exactly representable as a double), u = 52-bit md5 draw — priority is
    one IEEE multiply + divide, bit-identical in DuckDB, so the floats
    are deterministic; the output projects floor(priority)/floor(est)
    (exact on identical doubles) to keep the hash integer-only."""
    from pagerank_spark.operators.splits import priority_sample
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("double").alias("w"))
    out = priority_sample(docs, "doc_id", "w", k=PS_K)
    return out.select(
        F.col("key").alias("doc_id"),
        F.col("weight").cast("long").alias("weight"),
        F.floor("priority").cast("long").alias("priority_floor"),
        F.floor("est_weight").cast("long").alias("est_floor"),
        "rank")


def _priority_sample_sql(k: int = PS_K) -> str:
    from pagerank_spark.operators.splits import duckdb_priority_sql
    pri = duckdb_priority_sql("doc_id", "n_chars + 1")
    return f"""
WITH q AS (SELECT doc_id, CAST(n_chars + 1 AS DOUBLE) AS w,
                  {pri} AS pri FROM documents WHERE n_chars + 1 > 0),
top AS (SELECT doc_id, w, pri,
               row_number() OVER (ORDER BY pri DESC, doc_id) AS rank FROM q),
tau AS (SELECT coalesce((SELECT pri FROM top WHERE rank = {k + 1}), 0.0) AS t)
SELECT doc_id, CAST(w AS BIGINT) AS weight,
       CAST(floor(pri) AS BIGINT) AS priority_floor,
       CAST(floor(greatest(w, (SELECT t FROM tau))) AS BIGINT) AS est_floor,
       CAST(rank AS INT) AS rank
FROM top WHERE rank <= {k}
"""


CMS_DEPTH, CMS_WIDTH, CMS_K = 4, 64, 25


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketch.py): top-{CMS_K}
    users by estimated event count, exact count alongside. width={CMS_WIDTH}
    < 150 distinct users, so buckets genuinely collide and estimates
    overshoot — the sketch's one-sided error is visible in the checked
    values, not just asserted in pytest."""
    from pagerank_spark.operators.sketch import cms_heavy_hitters
    ev = _t(spark, sf_dir, "events")
    return cms_heavy_hitters(ev, "user_id", k=CMS_K,
                             depth=CMS_DEPTH, width=CMS_WIDTH)


def _cms_sql(depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
             k: int = CMS_K) -> str:
    bucket = ("('0x' || substr(md5(CAST(user_id AS VARCHAR) "
              "|| ':cms:' || CAST(d AS VARCHAR)), 1, 15))::BIGINT"
              f" % {width}")
    return f"""
WITH p AS (SELECT user_id, d, {bucket} AS bucket
           FROM events, range({depth}) t(d)),
sk AS (SELECT d, bucket, count(*) AS cnt FROM p GROUP BY 1, 2),
exact AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY 1),
kb AS (SELECT DISTINCT user_id, d, bucket FROM p),
est AS (SELECT kb.user_id, min(sk.cnt) AS est_count
        FROM kb JOIN sk USING (d, bucket) GROUP BY 1)
SELECT user_id, est_count, exact_count
FROM est JOIN exact USING (user_id)
ORDER BY est_count DESC, user_id LIMIT {k}
"""


BLOOM_M, BLOOM_H = 1 << 16, 3
BLOOM_SEEN, BLOOM_CAND = 1500, 2000


def q_bloom_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter crawl-frontier dedup (operators/sketch.py): pages
    0..{BLOOM_SEEN} of the F1 synthetic crawl are the seen history,
    pages 0..{BLOOM_CAND} today's discoveries; every candidate URL gets
    maybe_seen from the m={BLOOM_M}-bit / {BLOOM_H}-hash filter. All
    {BLOOM_SEEN} seen URLs must flag true (no false negatives); the
    1500*3/65536 ~ 6.6% fill puts the fp rate at ~3e-4, so the named
    fixture outcome is deterministic either way and hash-checked."""
    from pagerank_spark.operators.sketch import bloom_bits, bloom_maybe_contains
    url = F.format_string("https://site%d.example/page%d",
                          (F.col("id") % 97).cast("int"), F.col("id").cast("int"))
    seen = spark.range(BLOOM_SEEN).select(url.alias("url"))
    cand = spark.range(BLOOM_CAND).select(url.alias("url"))
    bits = bloom_bits(seen, "url", m_bits=BLOOM_M, hashes=BLOOM_H)
    out = bloom_maybe_contains(cand, bits, "url",
                               m_bits=BLOOM_M, hashes=BLOOM_H)
    return out.select("url", F.col("maybe_seen").cast("int").alias("maybe_seen"))


def _bloom_sql(m: int = BLOOM_M, h: int = BLOOM_H) -> str:
    def bit(tbl: str) -> str:
        return (f"('0x' || substr(md5({tbl}.url || ':bloom:' "
                f"|| CAST(t.h AS VARCHAR)), 1, 15))::BIGINT % {m}")
    return f"""
WITH seen AS (SELECT {_URL_OF_SQL} AS url
              FROM (SELECT unnest(range({BLOOM_SEEN})) AS id)),
cand AS (SELECT {_URL_OF_SQL} AS url
         FROM (SELECT unnest(range({BLOOM_CAND})) AS id)),
bits AS (SELECT DISTINCT {bit('seen')} AS bit FROM seen, range({h}) t(h)),
probe AS (SELECT cand.url, {bit('cand')} AS bit FROM cand, range({h}) t(h)),
miss AS (SELECT DISTINCT url FROM probe
         WHERE bit NOT IN (SELECT bit FROM bits))
SELECT url, CAST(url NOT IN (SELECT url FROM miss) AS INT) AS maybe_seen
FROM cand
"""


CONT_THRESH = 0.8   # the planted sf0.01 near-dup pairs sit at containment 1.0


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup (operators/dedup.py
    exact_containment): |A∩B| / min(|A|,|B|) >= {CONT_THRESH} — the
    quote/boilerplate-embedding detector symmetric Jaccard misses
    (Broder 1997 resemblance-vs-containment)."""
    from pagerank_spark.operators.dedup import containment_duplicates
    docs = _t(spark, sf_dir, "documents")
    return containment_duplicates(docs, threshold=CONT_THRESH).select(
        "a", "b", "inter", F.round("containment", 6).alias("containment"))


SQL_DEDUP_CONTAINMENT = f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS ts FROM documents),
gr AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)),
sz AS (SELECT doc_id, count(*) AS s FROM gr GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
          FROM gr x JOIN gr y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
SELECT a, b, CAST(i AS BIGINT) AS inter,
       round(CAST(i AS DOUBLE) / least(sa.s, sb.s), 6) AS containment
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / least(sa.s, sb.s) >= {CONT_THRESH}
"""


TMIX_TAU = 0.7   # flatten the en-heavy fixture toward the rare languages


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (operators/splits.py
    temperature_mix): per-lang keep rate (n_s/n_min)^(tau-1) on the
    shared deterministic bucket hash; thresholds computed in-plan."""
    from pagerank_spark.operators.splits import temperature_mix
    docs = _t(spark, sf_dir, "documents")
    return temperature_mix(docs, "doc_id", "lang", tau=TMIX_TAU).select(
        "doc_id", "lang", "mix_threshold")


def _temperature_mix_sql() -> str:
    from pagerank_spark.operators.splits import BUCKETS, duckdb_bucket_sql
    return f"""
WITH n AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY 1),
m AS (SELECT min(n_s) AS n_min FROM n),
t AS (SELECT lang,
             CAST(round(power(n_s / CAST(n_min AS DOUBLE),
                              {TMIX_TAU - 1.0!r}) * {BUCKETS}) AS INT)
             AS mix_threshold
      FROM n, m)
SELECT d.doc_id, d.lang, t.mix_threshold
FROM documents d JOIN t USING (lang)
WHERE {duckdb_bucket_sql('doc_id')} < t.mix_threshold
"""


FRONTIER_N = 4000        # candidate URLs in the synthetic frontier
FRONTIER_HOSTS = 37
FRONTIER_PER_SLOT = 2    # politeness: concurrent fetches per host per slot
FRONTIER_MAX_PER_HOST = 50   # per-host frontier cap (group-limit shape)


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier (operators/frontier.py
    frontier_schedule): deterministic (url, host, priority) fixture from
    range({FRONTIER_N}) (Knuth-hash priorities — identical integer
    algebra in both engines); per host, rank by priority and assign
    {FRONTIER_PER_SLOT}-wide fetch slots, deferring past rank
    {FRONTIER_MAX_PER_HOST}."""
    from pagerank_spark.operators.frontier import frontier_schedule
    i = F.col("id")
    fr = spark.range(FRONTIER_N).select(
        F.concat(F.lit("u"), F.lpad(i.cast("string"), 5, "0")).alias("url"),
        F.concat(F.lit("h"), (i % FRONTIER_HOSTS).cast("string")).alias("host"),
        ((i * F.lit(2654435761)) % F.lit(100000)).alias("priority"))
    return frontier_schedule(fr, key_col="url", host_col="host",
                             priority_col="priority",
                             per_slot=FRONTIER_PER_SLOT,
                             max_per_host=FRONTIER_MAX_PER_HOST)


SQL_FRONTIER_SCHEDULE = f"""
WITH ids AS (SELECT unnest(range({FRONTIER_N})) AS id),
f AS (SELECT 'u' || lpad(CAST(id AS VARCHAR), 5, '0') AS key,
             'h' || CAST(id % {FRONTIER_HOSTS} AS VARCHAR) AS host,
             (id * 2654435761) % 100000 AS priority FROM ids),
r AS (SELECT key, host, priority,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority DESC, key) AS rn
      FROM f)
SELECT key, host, CAST(priority AS BIGINT) AS priority,
       CAST(rn AS INT) AS host_rank,
       CAST(floor((rn - 1) / {FRONTIER_PER_SLOT}.0) AS INT) AS slot
FROM r WHERE rn <= {FRONTIER_MAX_PER_HOST}
"""


URLPAT_N = 3000   # synthetic URL corpus: 4 path families over 23 hosts


def q_url_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-family template mining (operators/frontier.py url_patterns):
    blog/product/session/static path families (digit runs -> N, long hex
    runs -> H) aggregated to (pattern, n_urls, n_hosts) — the spider-trap
    / boilerplate-family detector. Mixed-case hosts exercise
    normalization."""
    from pagerank_spark.operators.frontier import url_patterns
    i = F.col("id")
    path = (F.when(i % 4 == 0, F.concat(F.lit("/blog/"),
                                        (i % 17).cast("string"),
                                        F.lit("/post-"), i.cast("string")))
            .when(i % 4 == 1, F.concat(F.lit("/product/"), i.cast("string")))
            .when(i % 4 == 2, F.concat(F.lit("/s/"),
                                       F.substring(F.md5(i.cast("string")), 1, 12)))
            .otherwise(F.lit("/about")))
    url = F.concat(
        F.when(i % 2 == 0, F.lit("http://Site")).otherwise(F.lit("http://site")),
        (i % 23).cast("string"), F.lit(".example.com"), path)
    urls = spark.range(URLPAT_N).select(url.alias("url"))
    return url_patterns(urls, min_urls=2)


SQL_URL_PATTERNS = f"""
WITH ids AS (SELECT unnest(range({URLPAT_N})) AS id),
raw AS (SELECT
  (CASE WHEN id % 2 = 0 THEN 'http://Site' ELSE 'http://site' END)
  || CAST(id % 23 AS VARCHAR) || '.example.com'
  || (CASE WHEN id % 4 = 0
           THEN '/blog/' || CAST(id % 17 AS VARCHAR)
                || '/post-' || CAST(id AS VARCHAR)
           WHEN id % 4 = 1 THEN '/product/' || CAST(id AS VARCHAR)
           WHEN id % 4 = 2
           THEN '/s/' || substr(md5(CAST(id AS VARCHAR)), 1, 12)
           ELSE '/about' END) AS url FROM ids),
parts AS (SELECT
  regexp_replace(
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
    ':[0-9]+$', '') AS host,
  regexp_replace(regexp_replace(
    lower(regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)),
    '[0-9a-f]{{8,}}', 'H', 'g'), '[0-9]+', 'N', 'g') AS pattern
  FROM raw),
ph AS (SELECT pattern, host, count(*) AS n FROM parts GROUP BY 1, 2)
SELECT pattern, CAST(sum(n) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_hosts
FROM ph GROUP BY pattern HAVING sum(n) >= 2
"""


CF_MIN_TOKENS = 25     # fixture docs run 10-99 tokens: ~15% drop
CF_MAX_DUP2 = 0.05     # fixture dup-2gram runs 0-0.13: ~20% drop


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-filter cascade (operators/textops.py
    corpus_filter): token-count bounds, mean-word-length band, stop-word
    evidence, duplicate-2-gram gate — per-rule verdicts + conjunction.
    Thresholds tuned so every rule drops some fixture docs (keep ~ 60%)."""
    from pagerank_spark.operators.textops import corpus_filter
    docs = _t(spark, sf_dir, "documents")
    return corpus_filter(docs, min_tokens=CF_MIN_TOKENS,
                         max_dup_2gram=CF_MAX_DUP2)


def _corpus_filter_sql(min_tokens: int = CF_MIN_TOKENS,
                       max_tokens: int = 100_000,
                       min_mwl: float = 3.0, max_mwl: float = 10.0,
                       min_sw: int = 2,
                       max_dup2: float = CF_MAX_DUP2) -> str:
    from pagerank_spark.operators.textops import STOPWORDS
    _EN_STOPWORDS = STOPWORDS["en"]
    dup2 = ("CASE WHEN n_tokens - 1 <= 0 THEN 0.0 ELSE "
            "round(1.0 - len(list_distinct(list_transform(range(1, len(t)), "
            "i -> t[i] || ' ' || t[i+1]))) / CAST(n_tokens - 1 AS DOUBLE), 6)"
            " END")
    return f"""
WITH base AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
g AS (
  SELECT doc_id, t, CAST(len(t) AS INT) AS n_tokens,
         CAST(len(list_filter(t, x -> x IN
              ({', '.join(f"'{w}'" for w in _EN_STOPWORDS)}))) AS INT)
           AS stop_hits
  FROM base),
s AS (
  SELECT doc_id, n_tokens, stop_hits,
         CASE WHEN n_tokens <= 0 THEN 0.0 ELSE
           round(list_sum(list_transform(t, x -> len(x)))
                 / CAST(n_tokens AS DOUBLE), 6) END AS mean_word_len,
         {dup2} AS dup_2gram
  FROM g)
SELECT doc_id, n_tokens, mean_word_len, stop_hits, dup_2gram,
       n_tokens >= {min_tokens} AND n_tokens <= {max_tokens} AS keep_length,
       mean_word_len >= {min_mwl} AND mean_word_len <= {max_mwl}
         AS keep_wordlen,
       stop_hits >= {min_sw} AS keep_stopwords,
       dup_2gram <= {max_dup2} AS keep_repetition,
       (n_tokens >= {min_tokens} AND n_tokens <= {max_tokens})
         AND (mean_word_len >= {min_mwl} AND mean_word_len <= {max_mwl})
         AND stop_hits >= {min_sw} AND dup_2gram <= {max_dup2} AS keep
FROM s
"""


PACK_BUDGET = 256   # tokens per training sequence (fixture docs: 10-99)
PACK_BUCKETS = 8    # parallel packing streams


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (operators/splits.py
    pack_sequences): hash-bucketed parallel streams, deterministic order,
    running-sum offsets, first/last {PACK_BUDGET}-token chunk per doc."""
    from pagerank_spark.operators.splits import pack_sequences
    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, budget_tokens=PACK_BUDGET,
                          buckets=PACK_BUCKETS)


def _pack_sequences_sql(budget: int = PACK_BUDGET,
                        buckets: int = PACK_BUCKETS,
                        salt: str = "pack") -> str:
    h = ("(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{s}'), 1, 15))"
         "::BIGINT")
    return f"""
WITH base AS (
  SELECT doc_id AS id,
         {h.format(s=salt)} % {buckets}) AS bucket,
         {h.format(s=salt + ':o')}) AS ord,
         CAST(len({_TOK_SQL}) AS BIGINT) AS n_tokens
  FROM documents),
w AS (
  SELECT id, bucket, n_tokens,
         CAST(row_number() OVER win - 1 AS INT) AS pos,
         CAST(sum(n_tokens) OVER win - n_tokens AS BIGINT) AS start_offset
  FROM base WINDOW win AS (PARTITION BY bucket ORDER BY ord, id))
SELECT id, bucket, pos, n_tokens, start_offset,
       CAST(floor(start_offset / {budget}.0) AS BIGINT) AS seq_first,
       CAST(floor((start_offset + greatest(n_tokens - 1, 0)) / {budget}.0)
            AS BIGINT) AS seq_last
FROM w
"""


STRAT_RATES = {"en": 0.5, "zh": 1.0, "de": 0.8}   # fixture langs; fr/es
STRAT_DEFAULT = 0.25                              # fall to the default


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic corpus balancing (operators/splits.py
    stratified_sample): down-sample dominant en, keep all zh, default
    rate for unlisted fr/es — every row a pure function of doc_id."""
    from pagerank_spark.operators.splits import stratified_sample
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", STRAT_RATES,
                             default_rate=STRAT_DEFAULT
                             ).select("doc_id", "lang")


def _stratified_sample_sql() -> str:
    from pagerank_spark.operators.splits import BUCKETS, duckdb_bucket_sql
    cases = " ".join(
        f"WHEN lang = '{s}' THEN {int(round(r * BUCKETS))}"
        for s, r in sorted(STRAT_RATES.items()))
    return f"""
SELECT doc_id, lang FROM documents
WHERE {duckdb_bucket_sql('doc_id')}
      < (CASE {cases} ELSE {int(round(STRAT_DEFAULT * BUCKETS))} END)
"""


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/textops.py lm_perplexity):
    corpus-trained bigram LM, per-doc perplexity 2^(-mean log2 p)."""
    from pagerank_spark.operators.textops import lm_perplexity
    return lm_perplexity(_t(spark, sf_dir, "documents"))


SQL_LM_PERPLEXITY = f"""
WITH tkt AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
bg AS (SELECT doc_id, t[g.i] AS prev, t[g.i + 1] AS cur
       FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
lm AS (SELECT prev, cur, count(*) AS c_bg FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, count(*) AS c_ctx FROM bg GROUP BY 1),
sc AS (SELECT doc_id, count(*) AS n_bigrams,
              avg(-log2(c_bg / CAST(c_ctx AS DOUBLE))) AS h
       FROM bg JOIN lm USING (prev, cur) JOIN ctx USING (prev)
       GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(power(2.0, sc.h), 0.0), 6) AS ppl
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


UNIMAX_BUDGET = 120_000.0   # chars; caps de/fr/es/zh, leaves en uncapped
UNIMAX_EPOCHS = 1.0


def q_unimax_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax sampling-budget allocation (operators/splits.py
    unimax_budgets, Chung et al. ICLR 2023): char-weighted per-language
    budgets under a UNIMAX_EPOCHS(=1)-epoch cap. At sf0.01 the
    UNIMAX_BUDGET(=120000)-char budget caps every minority language at
    full capacity and hands the remainder to English — both
    water-filling branches (capped prefix, uniform tail) are
    value-hash-pinned."""
    from pagerank_spark.operators.splits import unimax_budgets
    return unimax_budgets(_t(spark, sf_dir, "documents"), "lang",
                          budget=UNIMAX_BUDGET, max_epochs=UNIMAX_EPOCHS,
                          weight_col="n_chars")


SQL_UNIMAX_BUDGETS = f"""
WITH counts AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n_s
                FROM documents GROUP BY lang),
ranked AS (SELECT lang, n_s,
                  row_number() OVER (ORDER BY n_s, lang) AS rk,
                  sum(n_s) OVER (ORDER BY n_s, lang) - n_s AS cum_prev,
                  count(*) OVER () AS n_strata
           FROM counts),
k0 AS (SELECT min(CASE WHEN {UNIMAX_EPOCHS} * n_s * (n_strata - rk + 1)
                            > {UNIMAX_BUDGET} - {UNIMAX_EPOCHS} * cum_prev
                       THEN rk END) AS k0 FROM ranked),
cs AS (SELECT sum(CASE WHEN rk < coalesce(k0, n_strata + 1)
                       THEN n_s ELSE 0.0 END) AS capped_n
       FROM ranked CROSS JOIN k0),
alloc AS (SELECT lang, n_s,
                 CASE WHEN rk < coalesce(k0, n_strata + 1)
                      THEN {UNIMAX_EPOCHS} * n_s
                      ELSE ({UNIMAX_BUDGET} - {UNIMAX_EPOCHS} * capped_n)
                           / (n_strata - coalesce(k0, n_strata + 1) + 1)
                 END AS budget_raw
          FROM ranked CROSS JOIN k0 CROSS JOIN cs)
SELECT lang, n_s, round(budget_raw, 6) AS budget_s,
       round(budget_raw / n_s, 6) AS epochs_s
FROM alloc
"""


KN_DISCOUNT = 0.75   # the classic absolute-discount value
KN_TARGET_MOD = 5    # target (clean) corpus = docs with doc_id % 5 == 0


def q_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney perplexity (operators/textops.py
    kn_perplexity — the KenLM smoothing family, the actual CCNet stage-3
    shape): LM trained on the doc_id % KN_TARGET_MOD(=5) == 0 target
    slice, every document scored against it — so unseen bigrams, unseen
    contexts, AND out-of-vocabulary continuations (the three smoothing
    branches) are all exercised and value-hash-pinned."""
    from pagerank_spark.operators.textops import kn_perplexity
    docs = _t(spark, sf_dir, "documents")
    return kn_perplexity(docs,
                         target=docs.filter(F.col("doc_id") % KN_TARGET_MOD
                                            == 0),
                         discount=KN_DISCOUNT)


SQL_KN_PERPLEXITY = f"""
WITH tkt AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
tbg AS (SELECT t[g.i] AS prev, t[g.i + 1] AS cur
        FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
        WHERE doc_id % {KN_TARGET_MOD} = 0),
lm AS (SELECT prev, cur, count(*) AS c_bg FROM tbg GROUP BY 1, 2),
ctx AS (SELECT prev, sum(c_bg) AS c_ctx, count(*) AS n1p_fwd
        FROM lm GROUP BY 1),
cont AS (SELECT cur, count(*) AS n1p_back FROM lm GROUP BY 1),
tot AS (SELECT CAST(count(*) + count(DISTINCT cur) + 1 AS DOUBLE) AS denom
        FROM lm),
bg AS (SELECT doc_id, t[g.i] AS prev, t[g.i + 1] AS cur
       FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
              avg(-log2(CASE WHEN ctx.c_ctx IS NOT NULL THEN
                  greatest(coalesce(lm.c_bg, 0) - {KN_DISCOUNT}, 0.0)
                      / ctx.c_ctx
                  + {KN_DISCOUNT} * ctx.n1p_fwd / ctx.c_ctx
                      * ((coalesce(cont.n1p_back, 0) + 1) / t.denom)
              ELSE (coalesce(cont.n1p_back, 0) + 1) / t.denom END)) AS h
       FROM bg b LEFT JOIN lm USING (prev, cur) LEFT JOIN ctx USING (prev)
            LEFT JOIN cont USING (cur) CROSS JOIN tot t
       GROUP BY b.doc_id)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(power(2.0, sc.h), 0.0), 6) AS ppl
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


SB_ALPHA = 0.4        # the Brants et al. backoff constant
SB_TARGET_MOD = 3     # target corpus = docs with doc_id % 3 == 0


def q_sb_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff LM scoring (operators/textops.py sb_perplexity,
    Brants et al. EMNLP 2007 — the distributed-counting smoothing): raw
    bigram/unigram target counts with constant-alpha backoff, trained on
    the doc_id % SB_TARGET_MOD(=3) == 0 slice, scoring every document —
    both the seen-bigram ratio branch and the backoff branch (incl. OOV
    continuations) are value-hash-pinned."""
    from pagerank_spark.operators.textops import sb_perplexity
    docs = _t(spark, sf_dir, "documents")
    return sb_perplexity(docs,
                         target=docs.filter(F.col("doc_id") % SB_TARGET_MOD
                                            == 0),
                         alpha=SB_ALPHA)


SQL_SB_PERPLEXITY = f"""
WITH tkt AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
tuni AS (SELECT w, count(*) AS c_w FROM
         (SELECT unnest(t) AS w FROM tkt WHERE doc_id % {SB_TARGET_MOD} = 0)
         GROUP BY w),
tot AS (SELECT CAST(sum(c_w) + count(*) + 1 AS DOUBLE) AS denom FROM tuni),
lm AS (SELECT t[g.i] AS prev, t[g.i + 1] AS cur, count(*) AS c_bg
       FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g
       WHERE doc_id % {SB_TARGET_MOD} = 0 GROUP BY 1, 2),
bg AS (SELECT doc_id, t[g.i] AS prev, t[g.i + 1] AS cur
       FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
              avg(-log2(CASE WHEN lm.c_bg IS NOT NULL
                                  AND up.c_w IS NOT NULL
                             THEN lm.c_bg / up.c_w
                             ELSE {SB_ALPHA}
                                  * ((coalesce(uc.c_w, 0) + 1) / t.denom)
                        END)) AS h
       FROM bg b LEFT JOIN lm USING (prev, cur)
            LEFT JOIN tuni up ON up.w = b.prev
            LEFT JOIN tuni uc ON uc.w = b.cur
            CROSS JOIN tot t
       GROUP BY b.doc_id)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(power(2.0, sc.h), 0.0), 6) AS ppl
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


BPE_MERGES = 10


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.py, Sennrich ACL 2016):
    the first {BPE_MERGES} learned merge rules over the documents
    corpus. The oracle replays every round — pair counts, the
    (count desc, left, right) argmax, and the greedy list_reduce
    re-split — so the learned table is pinned end to end."""
    from pagerank_spark.operators.bpe import bpe_train
    res = bpe_train(_t(spark, sf_dir, "documents"), merges=BPE_MERGES)
    assert res.n_merges == BPE_MERGES, (
        f"corpus ran out of pairs: {res.n_merges} < {BPE_MERGES}")
    return res.merges.orderBy("step")


def _bpe_parts(merges: int) -> list[str]:
    """The training-replay CTE chain (shared by the train and encode
    oracles): w{merges} is the fully-merged word -> syms dictionary and
    every b{r} is round r's argmax merge rule."""
    parts = [
        f"tkt AS (SELECT {_TOK_SQL} AS t FROM documents)",
        ("w0 AS MATERIALIZED (SELECT w, count(*) AS freq, "
         "array_to_string(list_transform(range(1, length(w) + 1), "
         "i -> substr(w, i, 1)), ' ') AS syms "
         "FROM (SELECT unnest(t) AS w FROM tkt) GROUP BY w)"),
    ]
    for r in range(merges):
        parts += [
            (f"a{r} AS (SELECT freq, string_split(syms, ' ') AS s "
             f"FROM w{r})"),
            (f"p{r} AS (SELECT s[g.i] AS l, s[g.i + 1] AS r, "
             f"sum(freq) AS n FROM a{r}, "
             f"LATERAL (SELECT unnest(range(1, len(s))) AS i) g "
             f"GROUP BY 1, 2)"),
            (f"b{r} AS MATERIALIZED (SELECT l, r, n FROM p{r} "
             f"ORDER BY n DESC, l, r LIMIT 1)"),
            (f"w{r + 1} AS MATERIALIZED (SELECT w, freq, "
             f"list_reduce(string_split(syms, ' '), (acc, x) -> "
             f"CASE WHEN string_split(acc, ' ')[-1] = b.l AND x = b.r "
             f"THEN left(acc, length(acc) - length(b.l)) || b.l || b.r "
             f"ELSE acc || ' ' || x END) AS syms "
             f"FROM w{r} CROSS JOIN b{r} b)"),
        ]
    return parts


def _bpe_sql(merges: int = BPE_MERGES) -> str:
    parts = _bpe_parts(merges)
    unions = " UNION ALL ".join(
        f"SELECT {r} AS step, l AS \"left\", r AS \"right\", "
        f"CAST(n AS BIGINT) AS n_pair FROM b{r}" for r in range(merges))
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT * FROM ({unions}) ORDER BY step")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY step (operators/bpe.py bpe_encode): train
    {BPE_MERGES} merges on the documents corpus, then tokenize the same
    corpus through the word -> symbolization dictionary join. The oracle
    replays training to the final dictionary (the shared _bpe_parts
    chain) and re-tokenizes every document through it, so each doc's full
    subword sequence is value-hash-pinned end to end. The tokens are
    projected space-joined (no token contains a space) so the column
    hashes as a plain string."""
    from pagerank_spark.operators.bpe import bpe_encode, bpe_train
    docs = _t(spark, sf_dir, "documents")
    trained = bpe_train(docs, merges=BPE_MERGES)
    return bpe_encode(docs, trained).select(
        "doc_id", "n_tokens", F.array_join("tokens", " ").alias("tokens"))


def _bpe_encode_sql(merges: int = BPE_MERGES) -> str:
    parts = _bpe_parts(merges) + [
        f"tkd AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents)",
        ("dwords AS (SELECT doc_id, g.i AS pos, t[g.i] AS w FROM tkd, "
         "LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) g)"),
        (f"enc AS (SELECT d.doc_id, "
         f"flatten(list(string_split(v.syms, ' ') ORDER BY d.pos)) AS toks "
         f"FROM dwords d JOIN w{merges} v USING (w) GROUP BY d.doc_id)"),
    ]
    return ("WITH " + ",\n".join(parts) + """
SELECT d.doc_id, CAST(coalesce(len(e.toks), 0) AS INT) AS n_tokens,
       array_to_string(coalesce(e.toks, []), ' ') AS tokens
FROM documents d LEFT JOIN enc e USING (doc_id)
""")


PMI_MIN_COUNT = 3
PMI_K = 200


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information over the corpus
    bigram table (operators/textops.py pmi_collocations, Church-Hanks
    1990): top-{PMI_K} pairs with n >= {PMI_MIN_COUNT}, pmi rounded to
    6 dp and IN the sort key so the k-boundary is engine-independent."""
    from pagerank_spark.operators.textops import pmi_collocations
    return pmi_collocations(_t(spark, sf_dir, "documents"),
                            min_count=PMI_MIN_COUNT, k=PMI_K)


SQL_PMI_COLLOCATIONS = f"""
WITH tkt AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
bg AS (SELECT t[g.i] AS prev, t[g.i + 1] AS cur
       FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g),
pairs AS (SELECT prev, cur, count(*) AS n_pair FROM bg GROUP BY 1, 2
          HAVING count(*) >= {PMI_MIN_COUNT}),
cp AS (SELECT prev, count(*) AS c_prev FROM bg GROUP BY 1),
cc AS (SELECT cur, count(*) AS c_cur FROM bg GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM bg)
SELECT prev, cur, n_pair,
       round(log2((n_pair * n_total) / CAST(c_prev * c_cur AS DOUBLE)), 6)
           AS pmi
FROM pairs JOIN cp USING (prev) JOIN cc USING (cur) CROSS JOIN tot
ORDER BY pmi DESC, prev, cur LIMIT {PMI_K}
"""


TR_K = 150
TR_ITERS = 3


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction by TextRank (operators/textops.py
    textrank_keywords, Mihalcea-Tarau 2004): damped walk on the window-2
    word co-occurrence graph, {TR_ITERS} iterations, top-{TR_K} by
    (round(score, 6) desc, word)."""
    from pagerank_spark.operators.textops import textrank_keywords
    return textrank_keywords(_t(spark, sf_dir, "documents"),
                             k=TR_K, alpha=ALPHA, iterations=TR_ITERS)


def _textrank_sql(k: int = TR_K, iterations: int = TR_ITERS) -> str:
    """Bigram co-occurrence graph (the PMI CTE shapes) + dense unroll of
    the damped stochastic walk; mirrors textrank_keywords exactly
    (row-stochastic weights, no dangling gather — the symmetric graph
    has none)."""
    parts = [
        f"tkt AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents)",
        ("bg AS (SELECT t[g.i] AS prev, t[g.i + 1] AS cur "
         "FROM tkt, LATERAL (SELECT unnest(range(1, len(t))) AS i) g)"),
        ("pe AS (SELECT least(prev, cur) AS a, greatest(prev, cur) AS b, "
         "count(*) AS cnt FROM bg WHERE prev <> cur GROUP BY 1, 2)"),
        ("de AS (SELECT a AS src, b AS dst, cnt FROM pe "
         "UNION ALL SELECT b, a, cnt FROM pe)"),
        "st AS (SELECT src, sum(cnt) AS s FROM de GROUP BY src)",
        ("we AS MATERIALIZED (SELECT de.src, de.dst, "
         "de.cnt / CAST(st.s AS DOUBLE) AS w FROM de JOIN st USING (src))"),
        ("v AS MATERIALIZED (SELECT src AS word, s AS strength FROM st)"),
        "nn AS (SELECT count(*) AS c FROM v)",
        "r0 AS (SELECT word, 1.0 / nn.c AS r FROM v CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.word, "
            f"{1.0 - ALPHA} / nn.c + {ALPHA} * coalesce(g.m, 0.0) AS r "
            f"FROM v CROSS JOIN nn LEFT JOIN "
            f"(SELECT we.dst AS word, sum(r{i - 1}.r * we.w) AS m "
            f"FROM we JOIN r{i - 1} ON r{i - 1}.word = we.src "
            f"GROUP BY we.dst) g ON g.word = v.word)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT v.word, CAST(v.strength AS BIGINT) AS strength, "
              f"round(r{iterations}.r, 6) AS score "
              f"FROM v JOIN r{iterations} ON r{iterations}.word = v.word "
              f"ORDER BY score DESC, v.word LIMIT {k}")


def q_docs_exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup hash-groupBy: every fingerprint group with its size (the
    synthetic docs happen to be dupe-free, so returning ALL groups keeps the
    oracle check non-trivial; operators.dedup.exact_duplicates applies the
    n_docs > 1 filter on the same aggregation)."""
    from pagerank_spark.operators.textops import fingerprint_exact
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(fingerprint_exact(F.col("text")).alias("fp"))
            .groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs")))


SQL_DOCS_EXACT_DUPES = """
SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp, count(*) AS n_docs
FROM documents GROUP BY 1
"""


SAMPLE10_SALT = "s10"


URLNORM_N = 300  # messy-url fixture rows (constructed identically in both engines)


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py, all JVM expressions): a
    deterministic messy-url fixture (case/port/query/fragment variants,
    built from range({URLNORM_N}) with the same string algebra in both
    engines) normalized + parsed."""
    from pagerank_spark.functions.urls import (normalize_url,
                                               registered_domain, url_depth,
                                               url_host)
    i = F.col("id")
    url = F.concat(
        F.when(i % 3 == 0, "HTTP://").when(i % 3 == 1, "https://")
         .otherwise("http://"),
        F.when(i % 2 == 0, "WWW.Site").otherwise("site"),
        (i % 7).cast("string"), F.lit(".Example.COM"),
        F.when(i % 5 == 0, ":80").when(i % 5 == 1, ":8080").otherwise(""),
        F.lit("/Path/"), i.cast("string"),
        F.when(i % 4 == 0, "?b=2&a=1&c=3").otherwise(""),
        F.when(i % 6 == 0, "#frag").otherwise(""),
    )
    return spark.range(URLNORM_N).select(
        "id", url.alias("url")).select(
        "id",
        normalize_url(F.col("url")).alias("norm"),
        url_host(F.col("url")).alias("host"),
        registered_domain(F.col("url")).alias("domain"),
        url_depth(F.col("url")).alias("depth"))


def _url_normalize_sql() -> str:
    hp = "regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)"
    return f"""
WITH ids AS (SELECT unnest(range({URLNORM_N})) AS id),
raw AS (SELECT id,
  (CASE WHEN id % 3 = 0 THEN 'HTTP://' WHEN id % 3 = 1 THEN 'https://'
        ELSE 'http://' END)
  || (CASE WHEN id % 2 = 0 THEN 'WWW.Site' ELSE 'site' END)
  || CAST(id % 7 AS VARCHAR) || '.Example.COM'
  || (CASE WHEN id % 5 = 0 THEN ':80' WHEN id % 5 = 1 THEN ':8080' ELSE '' END)
  || '/Path/' || CAST(id AS VARCHAR)
  || (CASE WHEN id % 4 = 0 THEN '?b=2&a=1&c=3' ELSE '' END)
  || (CASE WHEN id % 6 = 0 THEN '#frag' ELSE '' END) AS url FROM ids),
parts AS (SELECT id,
  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
  regexp_replace(lower({hp}), ':[0-9]+$', '') AS host,
  regexp_extract({hp}, ':([0-9]+)$', 1) AS port,
  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
  regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM raw)
SELECT id,
  scheme || '://' || host
  || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
      THEN '' ELSE ':' || port END)
  || (CASE WHEN path = '' THEN '/' ELSE path END)
  || (CASE WHEN q = '' THEN ''
      ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
  AS norm,
  host,
  regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INT) AS depth
FROM parts
"""


DECONTAM_NGRAM = 3      # word n-gram order for the leak check
DECONTAM_MIN_SHARED = 2  # flag pairs sharing >= this many distinct n-grams
DECONTAM_MAX_DF = 200   # stop-shingle cap: drop n-grams in > this many train docs


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination over the deterministic split
    (operators/decontam.py): per non-train doc, its worst n-gram-overlap
    train doc."""
    from pagerank_spark.operators.decontam import decontaminate_split
    return decontaminate_split(
        _t(spark, sf_dir, "documents"), ngram=DECONTAM_NGRAM,
        min_shared=DECONTAM_MIN_SHARED, max_df=DECONTAM_MAX_DF)


def _decontaminate_sql() -> str:
    """Same pipeline in DuckDB: split by the shared bucket hash, distinct
    word n-grams per doc (joined on the STRING; Spark joins on xxhash64 of
    it — equal absent 64-bit collisions), train-df cap, pair counts,
    deterministic per-eval argmax."""
    from pagerank_spark.operators.splits import duckdb_bucket_sql
    b = duckdb_bucket_sql("doc_id")
    n1 = DECONTAM_NGRAM - 1
    return f"""
WITH sp AS (SELECT doc_id,
       CASE WHEN {b} < 8000 THEN 'train'
            WHEN {b} < 9000 THEN 'val'
            ELSE 'test' END AS split FROM documents),
tok AS (SELECT doc_id, {_TOK_SQL} AS ts FROM documents),
gr AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+{n1}], ' ') AS g
       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - {n1}, 1))) AS t(i)),
tr AS (SELECT gr.doc_id, gr.g FROM gr JOIN sp ON sp.doc_id = gr.doc_id
       WHERE sp.split = 'train'),
ev AS (SELECT gr.doc_id, gr.g FROM gr JOIN sp ON sp.doc_id = gr.doc_id
       WHERE sp.split <> 'train'),
rare AS (SELECT g FROM tr GROUP BY g HAVING count(*) <= {DECONTAM_MAX_DF}),
sz AS (SELECT doc_id, count(*) AS eval_ngrams FROM ev GROUP BY doc_id),
shared AS (SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id,
                  count(*) AS n_shared
           FROM ev JOIN rare ON rare.g = ev.g JOIN tr ON tr.g = ev.g
           GROUP BY 1, 2 HAVING count(*) >= {DECONTAM_MIN_SHARED}),
best AS (SELECT eval_id, train_id, n_shared FROM (
    SELECT eval_id, train_id, n_shared,
           row_number() OVER (PARTITION BY eval_id
                              ORDER BY n_shared DESC, train_id ASC) AS rk
    FROM shared) WHERE rk = 1)
SELECT b.eval_id AS doc_id, s.split, b.n_shared, z.eval_ngrams,
       CAST(b.n_shared AS DOUBLE) / z.eval_ngrams AS overlap, b.train_id
FROM best b JOIN sz z ON z.doc_id = b.eval_id
JOIN sp s ON s.doc_id = b.eval_id
"""


def q_docs_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by doc_id hash plus
    a nested 10% subsample flag (operators/splits.py) — pure narrow
    projections of the cross-engine md5 hash; no shuffle at any scale."""
    from pagerank_spark.operators.splits import dataset_split, split_bucket
    docs = _t(spark, sf_dir, "documents")
    return dataset_split(docs.select("doc_id"), "doc_id").select(
        "doc_id", "split",
        (split_bucket(F.col("doc_id"), SAMPLE10_SALT) < 1000)
        .cast("int").alias("sampled10"),
    )


def _dataset_split_sql() -> str:
    from pagerank_spark.operators.splits import duckdb_bucket_sql
    b = duckdb_bucket_sql("doc_id")
    b10 = duckdb_bucket_sql("doc_id", SAMPLE10_SALT)
    return f"""
SELECT doc_id,
       CASE WHEN {b} < 8000 THEN 'train'
            WHEN {b} < 9000 THEN 'val'
            ELSE 'test' END AS split,
       CAST({b10} < 1000 AS INT) AS sampled10
FROM documents
"""


VOCAB_TOPK = 100
TFIDF_TOPK = 3

_DOC_TERMS_SQL = f"""
tok AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents),
dt AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2)"""


def q_docs_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_TOPK} corpus vocabulary by document frequency
    (textops.vocab_top_terms) — exact-integer ordering, k-limited sort."""
    from pagerank_spark.operators.textops import vocab_top_terms
    return vocab_top_terms(_t(spark, sf_dir, "documents"), k=VOCAB_TOPK)


SQL_VOCAB_TOP_TERMS = f"""
WITH {_DOC_TERMS_SQL}
SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS tf_total
FROM dt GROUP BY term
ORDER BY doc_freq DESC, tf_total DESC, term ASC
LIMIT {VOCAB_TOPK}
"""


def q_docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOPK} terms with tf-idf features
    (textops.tfidf_top_terms) — integer-exact ranking, float tf-idf
    carried rounded."""
    from pagerank_spark.operators.textops import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=TFIDF_TOPK).select(
        "doc_id", "term", "tf", "doc_freq",
        F.round("tfidf", 6).alias("tfidf"))


SQL_TFIDF_TOP_TERMS = f"""
WITH {_DOC_TERMS_SQL},
stats AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM dt GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT dt.doc_id, dt.term, dt.tf, stats.doc_freq,
         dt.tf * ln(n.n_docs / stats.doc_freq) AS tfidf,
         row_number() OVER (PARTITION BY dt.doc_id
                            ORDER BY dt.tf DESC, stats.doc_freq ASC, dt.term ASC) AS rk
  FROM dt JOIN stats USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, doc_freq, round(tfidf, 6) AS tfidf
FROM scored WHERE rk <= {TFIDF_TOPK}
"""


DSIR_K, DSIR_BUCKETS, DSIR_ALPHA = 100, 1024, 1.0


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/dsir.py): hashed-unigram
    models fit on the English subset (target) vs the whole documents
    table (raw), Gumbel top-{DSIR_K} on the log-likelihood ratio. Hash
    buckets and Gumbel noise both derive from shared_hash60, so the
    pipeline replays identically in the oracle."""
    from pagerank_spark.operators.dsir import dsir_select
    docs = _t(spark, sf_dir, "documents")
    return dsir_select(docs, docs.filter(F.col("lang") == "en"),
                       k=DSIR_K, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA)


def _dsir_sql() -> str:
    h = "('0x' || substr(md5(term), 1, 15))::BIGINT"
    hid = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    b, a = DSIR_BUCKETS, DSIR_ALPHA
    return f"""
WITH {_DOC_TERMS_SQL},
ttok AS (SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents
         WHERE lang = 'en'),
tdt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM ttok GROUP BY 1, 2),
rawb AS (SELECT {h} % {b} AS bucket, CAST(sum(tf) AS DOUBLE) AS c
         FROM dt GROUP BY 1),
tgtb AS (SELECT {h} % {b} AS bucket, CAST(sum(tf) AS DOUBLE) AS c
         FROM tdt GROUP BY 1),
rtot AS (SELECT coalesce(sum(c), 0) AS t FROM rawb),
ttot AS (SELECT coalesce(sum(c), 0) AS t FROM tgtb),
model AS (
  SELECT coalesce(tg.bucket, rw.bucket) AS bucket,
         (ln(coalesce(tg.c, 0) + {a}) - ln(ttot.t + {a} * {b}))
       - (ln(coalesce(rw.c, 0) + {a}) - ln(rtot.t + {a} * {b})) AS llr
  FROM tgtb tg FULL JOIN rawb rw ON rw.bucket = tg.bucket
  CROSS JOIN rtot CROSS JOIN ttot),
scored AS (
  SELECT dt.doc_id, sum(dt.tf * model.llr) AS log_ratio
  FROM dt JOIN model ON model.bucket = {h} % {b}
  GROUP BY dt.doc_id),
g AS (SELECT doc_id, log_ratio,
             log_ratio - ln(-ln(({hid} + 1.0) / {float(1 << 60) + 1.0!r}))
             AS score
      FROM scored)
SELECT doc_id, round(log_ratio, 6) AS log_ratio, round(score, 6) AS score
FROM g ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {DSIR_K}
"""


WINNOW_K, WINNOW_W = 5, 4
WINNOW_MIN_SHARED, WINNOW_MAX_DF = 2, 50


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint candidate pairs (operators/winnow.py):
    document pairs sharing ≥ {WINNOW_MIN_SHARED} window-min shingle
    hashes (MOSS local-overlap guarantee at t = w+k-1 =
    {WINNOW_W + WINNOW_K - 1} tokens), hot fingerprints dropped at
    df > {WINNOW_MAX_DF}."""
    from pagerank_spark.operators.winnow import winnow_candidates
    return winnow_candidates(_t(spark, sf_dir, "documents"),
                             k=WINNOW_K, w=WINNOW_W,
                             min_shared=WINNOW_MIN_SHARED,
                             max_doc_freq=WINNOW_MAX_DF)


def _winnow_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    h = _H60.format(s=f"array_to_string(t[i:i+{k-1}], ' ')")
    return f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
sh AS (SELECT doc_id, list_transform(
         range(1, greatest(len(t) - {k - 1}, 0) + 1), i -> {h}) AS h
       FROM toks),
win AS (SELECT doc_id, CASE
         WHEN len(h) >= {w} THEN list_transform(
              range(1, len(h) - {w - 1} + 1), i -> list_min(h[i:i+{w-1}]))
         WHEN len(h) > 0 THEN [list_min(h)]
         ELSE [] END AS fps FROM sh),
fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM win),
rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
         WHERE df <= {WINNOW_MAX_DF}),
fpr AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r ON r.fp = f.fp)
SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
       CAST(count(*) AS BIGINT) AS shared
FROM fpr x JOIN fpr y ON y.fp = x.fp AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


BM25_QUERY = ("join", "spark", "vector")
BM25_TOPK = 20


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{BM25_TOPK} documents for a fixed query bag
    (ranking.bm25_topk) — query-term filter below every join, broadcast
    df stats, k-limited sort on the rounded score."""
    from pagerank_spark.operators.ranking import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"),
                     BM25_QUERY, k=BM25_TOPK)


SQL_BM25_TOPK = f"""
WITH {_DOC_TERMS_SQL},
q AS (SELECT unnest({list(BM25_QUERY)!r}) AS term),
fdt AS (SELECT dt.doc_id, dt.term, dt.tf FROM dt JOIN q USING (term)),
stats AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM fdt GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
dl AS (SELECT doc_id, CAST(len({_TOK_SQL}) AS DOUBLE) AS dl FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
scored AS (
  SELECT fdt.doc_id, CAST(count(*) AS BIGINT) AS n_matched,
         sum(ln(1 + (n.n_docs - stats.df + 0.5) / (stats.df + 0.5))
             * (fdt.tf * (1.2 + 1)) /
               (fdt.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / ad.avgdl))) AS score
  FROM fdt JOIN stats USING (term) JOIN dl USING (doc_id)
       CROSS JOIN n CROSS JOIN ad
  GROUP BY fdt.doc_id)
SELECT doc_id, n_matched, round(score, 6) AS score
FROM scored ORDER BY round(score, 6) DESC, doc_id ASC LIMIT {BM25_TOPK}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact word-3gram Jaccard >= 0.5 (the verify stage of the
    MinHash pipeline, run exhaustively so DuckDB can oracle it)."""
    from pagerank_spark.operators.dedup import shingles
    docs = _t(spark, sf_dir, "documents")
    sh = shingles(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("x").join(sh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a")
                   .withColumnRenamed("sz", "sa"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("sz", "sb"), "b")
        .select("a", "b",
                F.round(F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")), 6)
                .alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


SQL_NGRAM_JACCARD = f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS ts FROM documents),
gr AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)),
sz AS (SELECT doc_id, count(*) AS s FROM gr GROUP BY doc_id),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
          FROM gr x JOIN gr y ON x.g = y.g AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
SELECT a, b, round(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= 0.5
"""


# shared 60-bit hash (first 15 md5 hex digits as int64): the one hash both
# engines can compute bit-identically, making the MinHash/SimHash pipelines
# oracle-checkable END-TO-END (same shingle ids, same band buckets, same
# fingerprints). Production default stays xxhash64 (operators/dedup.py).
_H60 = "('0x' || substr(md5({s}), 1, 15))::BIGINT"
_M31 = (1 << 31) - 1
_MH_K, _MH_BANDS, _MH_ROWS = 64, 16, 4
_SH_BITS, _SH_BLOCK_BITS, _SH_MAXHAM = 60, 15, 3


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over the shared engine-parity hash
    (oracle: the identical shingle->minhash->band->bucket->verify pipeline
    unrolled in SQL; recall vs exact Jaccard tested in pytest)."""
    from pagerank_spark.operators.dedup import near_duplicates_minhash, shared_hash60
    docs = _t(spark, sf_dir, "documents")
    return near_duplicates_minhash(
        docs, threshold=0.5, k=_MH_K, bands=_MH_BANDS, rows=_MH_ROWS,
        hash_fn=shared_hash60,
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup completion: MinHash+LSH pairs -> connected-component duplicate
    clusters -> min-id canonical keep flag (dedup.dedup_clusters over the
    full doc universe; filter(keep=1) IS the deduplicated corpus)."""
    from pagerank_spark.operators.dedup import (dedup_clusters,
                                                near_duplicates_minhash,
                                                shared_hash60)
    docs = _t(spark, sf_dir, "documents")
    pairs = near_duplicates_minhash(
        docs, threshold=0.5, k=_MH_K, bands=_MH_BANDS, rows=_MH_ROWS,
        hash_fn=shared_hash60)
    return (dedup_clusters(pairs, universe=docs.select("doc_id"))
            .select("doc_id", "cluster",
                    F.col("keep").cast("int").alias("keep")))


def _dedup_clusters_oracle_sql() -> str:
    """Minhash pair pipeline (inner WITH scope) + the hash-min reachability
    walk of SQL_CONNECTED_COMPONENTS over the pair graph."""
    inner = _minhash_lsh_oracle_sql()
    return f"""
WITH RECURSIVE hit AS ({inner}),
sym AS (SELECT a, b FROM hit UNION ALL SELECT b AS a, a AS b FROM hit),
walk(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT sym.b, walk.r FROM walk JOIN sym ON sym.a = walk.id
    WHERE walk.r < sym.b
),
comp AS (SELECT id, min(r) AS cluster FROM walk GROUP BY id)
SELECT id AS doc_id, cluster, CAST(id = cluster AS INT) AS keep FROM comp
"""


def _minhash_lsh_oracle_sql(threshold: float = 0.5, max_bucket: int = 1000) -> str:
    """The full MinHash+LSH pipeline in DuckDB SQL, numerically identical to
    operators/dedup.py under shared_hash60: 31-bit affine permutations as
    64 min-aggs, md5-hash band buckets, bucket-size cap, exact-Jaccard
    verify on candidates."""
    from pagerank_spark.operators.dedup import _minhash_params
    params = _minhash_params(_MH_K)
    h60 = _H60.format(s="g")
    mins = ",\n       ".join(
        f"min(((shingle % {_M31}) * {a} + {b}) % {_M31}) AS m{i}"
        for i, (a, b) in enumerate(params))
    bucket_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {j} AS band, {h} AS bucket FROM sig".format(
            j=j,
            h=_H60.format(s="array_to_string([{cols}], ',')".format(
                cols=", ".join(f"m{j * _MH_ROWS + r}" for r in range(_MH_ROWS)))))
        for j in range(_MH_BANDS))
    return f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS ts FROM documents),
gr AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
       FROM tok, UNNEST(generate_series(1, greatest(len(ts) - 2, 1))) AS t(i)),
sh AS (SELECT doc_id, {h60} AS shingle FROM gr),
sig AS (SELECT doc_id,
       {mins}
       FROM sh GROUP BY doc_id),
buckets AS (
  {bucket_rows}
),
cnt AS (SELECT band, bucket, count(*) AS c FROM buckets GROUP BY 1, 2),
small AS (SELECT b.doc_id, b.band, b.bucket FROM buckets b
          JOIN cnt ON cnt.band = b.band AND cnt.bucket = b.bucket
          WHERE cnt.c <= {max_bucket}),
pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM small x JOIN small y ON x.band = y.band AND x.bucket = y.bucket
          WHERE x.doc_id < y.doc_id),
sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
inter AS (SELECT p.a, p.b, count(*) AS i
          FROM pairs p
          JOIN sh xa ON xa.doc_id = p.a
          JOIN sh xb ON xb.doc_id = p.b AND xb.shingle = xa.shingle
          GROUP BY 1, 2)
SELECT a, b, round(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= {threshold}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3, 60-bit fingerprints over the
    shared engine-parity hash (oracle: same per-bit sums in SQL)."""
    from pagerank_spark.operators.dedup import simhash_near_duplicates, shared_hash60
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, max_hamming=_SH_MAXHAM, bits=_SH_BITS,
        block_bits=_SH_BLOCK_BITS, hash_fn=shared_hash60,
    ).select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_oracle_sql() -> str:
    """60-bit SimHash + pigeonhole blocking in DuckDB SQL, numerically
    identical to operators/dedup.py under shared_hash60."""
    n_blocks = _SH_BITS // _SH_BLOCK_BITS
    mask = (1 << _SH_BLOCK_BITS) - 1
    h60 = _H60.format(s="t")
    sums = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SH_BITS))
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {i})"
        for i in range(_SH_BITS))
    block_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS blk, "
        f"(simhash >> {j * _SH_BLOCK_BITS}) & {mask} AS val FROM fp"
        for j in range(n_blocks))
    return f"""
WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents),
hh AS (SELECT doc_id, {h60} AS h FROM tok),
agg AS (SELECT doc_id,
       {sums}
       FROM hh GROUP BY doc_id),
fp AS (SELECT doc_id, {fp} AS simhash FROM agg),
blocks AS (
  {block_rows}
),
cands AS (SELECT DISTINCT x.doc_id AS a, x.simhash AS ha,
                 y.doc_id AS b, y.simhash AS hb
          FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.val = y.val
          WHERE x.doc_id < y.doc_id)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cands WHERE bit_count(xor(ha, hb)) <= {_SH_MAXHAM}
"""


def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id < 8.
    Output is ids+rank only: float scores stay internal, so the hash
    compares integers (rank flips would need two cosines within fp noise)."""
    from pagerank_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id", "rank")


SQL_SIMILARITY_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 8),
s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
      FROM embeddings e, q WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s) WHERE rank <= 5
"""


_ANN_PLANES, _ANN_TABLES, _ANN_SEED, _ANN_DIM = 12, 6, 42, 64


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 (oracle: identical deterministic
    plane matrix inlined as SQL literals, sign-bit buckets via
    list_dot_product; recall vs brute force additionally tested in pytest)."""
    from pagerank_spark.operators.similarity import ann_topk_lsh
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_lsh(emb, queries, k=5, planes=_ANN_PLANES,
                        tables=_ANN_TABLES, seed=_ANN_SEED
                        ).select("query_id", "neighbor_id", "rank")


def _ann_lsh_oracle_sql(k: int = 5) -> str:
    """The LSH bucket pipeline in DuckDB SQL. The plane matrix is the same
    deterministic mix3-derived one the Spark operator uses
    (operators/similarity.py plane_matrix), inlined as literals; float
    repr() round-trips exactly, so both engines hold bit-identical planes.
    Sign bits could only diverge for |v·plane| within fp-summation noise of
    0 (~1e-15 of the term magnitudes) — nonexistent on real embeddings."""
    from pagerank_spark.operators.similarity import plane_matrix
    P = plane_matrix(_ANN_DIM, _ANN_PLANES, _ANN_TABLES, _ANN_SEED)
    rows = []
    for t in range(_ANN_TABLES):
        for p in range(_ANN_PLANES):
            vec = ", ".join(repr(float(x)) for x in P[t * _ANN_PLANES + p])
            rows.append(f"({t}, {p}, [{vec}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH pl(tbl, p, vec) AS (VALUES
{values}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT e.vec_id, pl.tbl AS tbl,
             sum(CASE WHEN list_dot_product(e.v, pl.vec) >= 0
                 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
      FROM e, pl GROUP BY 1, 2),
cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
         FROM b qb JOIN b cb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
         WHERE qb.vec_id < 8 AND cb.vec_id <> qb.vec_id),
s AS (SELECT c.query_id, c.neighbor_id, list_cosine_similarity(q.v, n.v) AS cos
      FROM cand c JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s) WHERE rank <= {k}
"""


_IVF_CELLS, _IVF_NPROBE, _IVF_K = 16, 6, 5


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5: deterministically seeded codebook (smallest
    shared-hash ids), one Lloyd refinement, nprobe-cell probing (oracle:
    the identical train/assign/probe/score pipeline unrolled in SQL)."""
    from pagerank_spark.operators.similarity import ann_topk_ivf
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_ivf(emb, queries, k=_IVF_K, n_cells=_IVF_CELLS,
                        nprobe=_IVF_NPROBE, lloyd_iters=1
                        ).select("query_id", "neighbor_id", "rank")


def _ivf_codebook_ctes(n_cells: int, dim: int = 64) -> str:
    """Shared DuckDB CTE chain for the deterministic IVF codebook, given a
    preceding CTE ``e(vec_id, v DOUBLE[])``: seed cells = the n_cells
    vectors of smallest shared-hash(id), one Lloyd round (nearest-centroid
    assign + element-wise mean per cell), final corpus assignment ``ca``.
    Used by both the ann_ivf and semantic_dedup oracles — the identical
    pipeline similarity.ivf_train_centroids / ivf_assignments runs."""
    h60 = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"
    return f"""seed_order AS (SELECT vec_id, v FROM e ORDER BY {h60}, vec_id LIMIT {n_cells}),
seeds AS (SELECT row_number() OVER (ORDER BY {h60}, vec_id) - 1 AS cell, v
          FROM seed_order),
a0 AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, s.cell,
                row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, s.v) DESC, s.cell ASC) AS rn
         FROM e, seeds s) WHERE rn = 1),
means AS (SELECT a0.cell, g.i AS pos, avg(e.v[g.i]) AS m
          FROM a0 JOIN e USING (vec_id), generate_series(1, {dim}) g(i)
          GROUP BY 1, 2),
c1 AS (SELECT s.cell, coalesce(mm.vec, s.v) AS v
       FROM seeds s LEFT JOIN
            (SELECT cell, list(m ORDER BY pos) AS vec FROM means GROUP BY cell) mm
            ON mm.cell = s.cell),
ca AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
                row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell ASC) AS rn
         FROM e, c1 c) WHERE rn = 1)"""


def _ann_ivf_oracle_sql(dim: int = 64) -> str:
    """The IVF pipeline in DuckDB SQL: the shared codebook CTE chain
    (_ivf_codebook_ctes), then queries probe nprobe cells; cosine +
    row_number over the candidate cells. Cosine values only ORDER the
    output (ids+rank are compared), so fp summation differences between
    engines would need two cosines within ~1e-15 to matter."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
{_ivf_codebook_ctes(_IVF_CELLS, dim)},
qa AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
                row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell ASC) AS rn
         FROM e, c1 c WHERE e.vec_id < 8) WHERE rn <= {_IVF_NPROBE}),
cand AS (SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
         FROM qa JOIN ca ON ca.cell = qa.cell
         WHERE ca.vec_id <> qa.vec_id),
s AS (SELECT c.query_id, c.neighbor_id, list_cosine_similarity(q.v, n.v) AS cos
      FROM cand c JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s) WHERE rank <= {_IVF_K}
"""


_PQ_M, _PQ_KSUB, _PQ_K = 4, 8, 5   # 64-dim -> 4 subspaces of 16 dims


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve (operators/graphstats.py rich_club,
    Zhou-Mondragon 2004): phi(k) at every distinct-degree threshold —
    whole curve from two suffix-summed histograms, one pass, no per-k
    iteration."""
    from pagerank_spark.operators.graphstats import rich_club
    return rich_club(_edges(spark, sf_dir))


SQL_RICH_CLUB = f"""
WITH {_E_SQL}, {_S_SQL},
deg AS (SELECT id, count(*) AS d FROM
        (SELECT a AS id FROM s UNION ALL SELECT b FROM s) t GROUP BY id),
vh AS (SELECT d, count(*) AS nv FROM deg GROUP BY d),
em AS (SELECT least(da.d, db.d) AS d, count(*) AS ne
       FROM s JOIN deg da ON da.id = s.a JOIN deg db ON db.id = s.b
       GROUP BY 1),
h AS (SELECT coalesce(vh.d, em.d) AS d, coalesce(nv, 0) AS nv,
             coalesce(ne, 0) AS ne
      FROM vh FULL JOIN em ON em.d = vh.d),
curve AS (SELECT d - 1 AS k,
                 sum(nv) OVER (ORDER BY d DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS n_rich,
                 sum(ne) OVER (ORDER BY d DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS e_rich
          FROM h)
SELECT k, CAST(n_rich AS BIGINT) AS n_rich, CAST(e_rich AS BIGINT) AS e_rich,
       round(2.0 * e_rich / (n_rich * (n_rich - 1)), 6) AS phi
FROM curve WHERE n_rich >= 2
"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means corpus clustering as a first-class curation surface
    (cluster-balanced sampling / SemDeDup prep): the deterministic
    seeded-Lloyd IVF codebook assigns every embedding its cell — the
    exact pipeline similarity.ivf_train_centroids/ivf_assignments runs,
    exposed (and driver-checked) as the full assignment table."""
    from pagerank_spark.operators.similarity import (ivf_assignments,
                                                     ivf_train_centroids)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    C = ivf_train_centroids(emb, n_cells=_IVF_CELLS, lloyd_iters=1)
    return (ivf_assignments(emb, C, nprobe=1)
            .select(F.col("id").alias("vec_id"), "cell"))


def _embedding_clusters_sql(dim: int = 64) -> str:
    return f"""
WITH {_E_EMB_SQL},
{_ivf_codebook_ctes(_IVF_CELLS, dim)}
SELECT vec_id, cell FROM ca
"""


def q_similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py ann_topk_pq,
    Jegou et al. TPAMI 2011): deterministic per-subspace codebooks, m-int
    codes, query LUT scoring — the compressed-exhaustive-scan complement
    to the IVF/LSH candidate-pruning paths. Output is (ids, rank) like
    the IVF row: scores only ORDER the result, so cross-engine fp noise
    would need two ADC sums within ~1e-15 to matter."""
    from pagerank_spark.operators.similarity import ann_topk_pq
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_pq(emb, queries, k=_PQ_K, m=_PQ_M, ksub=_PQ_KSUB,
                       lloyd_iters=1).select(
        "query_id", "neighbor_id", "rank")


def _pq_ctes(dim: int, m: int, ksub: int) -> list[str]:
    """Shared DuckDB CTE chain for the PQ pipeline, given a preceding CTE
    ``e(vec_id, v DOUBLE[])``: global L2 normalization, the ksub
    smallest-hash seed rows sliced per subspace, one Lloyd round per
    subspace under the SAME stable score algebra as the Arrow UDF
    (x.c - |c|^2/2, ties to the lowest code), corpus ``codes`` rows
    (vec_id, s, code) and per-query ``lut`` rows (query_id, s, code, ip)
    for queries vec_id < 8. Used by the ann_pq and ann_ivfpq oracles."""
    h60 = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"
    dsub = dim // m
    parts = [
        ("en AS (SELECT vec_id, list_transform(v, x -> "
         "x / sqrt(list_inner_product(v, v))) AS v FROM e)"),
        (f"pq_seed_rows AS (SELECT vec_id, v FROM en "
         f"ORDER BY {h60}, vec_id LIMIT {ksub})"),
        (f"pq_seeds AS (SELECT row_number() OVER (ORDER BY {h60}, vec_id)"
         f" - 1 AS code, v FROM pq_seed_rows)"),
    ]
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts += [
            f"psub{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM en)",
            f"psd{s} AS (SELECT code, v[{lo}:{hi}] AS v FROM pq_seeds)",
            (f"pa{s} AS (SELECT vec_id, code FROM ("
             f"SELECT t.vec_id, c.code, row_number() OVER ("
             f"PARTITION BY t.vec_id ORDER BY "
             f"list_inner_product(t.v, c.v)"
             f" - 0.5 * list_inner_product(c.v, c.v) DESC, c.code ASC) AS rn"
             f" FROM psub{s} t, psd{s} c) WHERE rn = 1)"),
            (f"pmn{s} AS (SELECT a.code, g.i AS pos, avg(t.v[g.i]) AS mval "
             f"FROM pa{s} a JOIN psub{s} t USING (vec_id), "
             f"generate_series(1, {dsub}) g(i) GROUP BY 1, 2)"),
            (f"pcb{s} AS (SELECT c.code, coalesce(mm.vec, c.v) AS v "
             f"FROM psd{s} c LEFT JOIN (SELECT code, list(mval ORDER BY pos)"
             f" AS vec FROM pmn{s} GROUP BY code) mm ON mm.code = c.code)"),
            (f"pcs{s} AS (SELECT vec_id, {s} AS s, code FROM ("
             f"SELECT t.vec_id, c.code, row_number() OVER ("
             f"PARTITION BY t.vec_id ORDER BY "
             f"list_inner_product(t.v, c.v)"
             f" - 0.5 * list_inner_product(c.v, c.v) DESC, c.code ASC) AS rn"
             f" FROM psub{s} t, pcb{s} c) WHERE rn = 1)"),
            (f"plut{s} AS (SELECT q.vec_id AS query_id, {s} AS s, c.code, "
             f"list_inner_product(q.v, c.v) AS ip "
             f"FROM psub{s} q, pcb{s} c WHERE q.vec_id < 8)"),
        ]
    codes_u = " UNION ALL ".join(f"SELECT * FROM pcs{s}" for s in range(m))
    lut_u = " UNION ALL ".join(f"SELECT * FROM plut{s}" for s in range(m))
    parts += [f"codes AS ({codes_u})", f"lut AS ({lut_u})"]
    return parts


_E_EMB_SQL = ("e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
              "FROM embeddings WHERE embedding IS NOT NULL)")


def _ann_pq_oracle_sql(dim: int = 64, m: int = _PQ_M,
                       ksub: int = _PQ_KSUB, k: int = _PQ_K) -> str:
    """The PQ pipeline replayed in DuckDB (see _pq_ctes), exhaustive-scan
    candidates: every (query, corpus) pair, ADC sum, rank window."""
    parts = [_E_EMB_SQL, *_pq_ctes(dim, m, ksub),
             ("scored AS (SELECT l.query_id, c.vec_id AS neighbor_id, "
              "sum(l.ip) AS adc FROM codes c JOIN lut l "
              "ON l.s = c.s AND l.code = c.code "
              "WHERE c.vec_id <> l.query_id GROUP BY 1, 2)")]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(adc, 9) DESC, neighbor_id ASC)
             AS rank
  FROM scored) WHERE rank <= {k}
""")


_IVFPQ_NPROBE = 4


def q_similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (operators/similarity.py ann_topk_ivfpq, Jegou et al. TPAMI
    2011 SIV — the FAISS IVFx,PQy shape): IVF cells prune candidates to
    _IVFPQ_NPROBE(=4) probed cells, PQ/ADC scores the survivors from
    their m-int codes. Both deterministic codebooks replayed in the
    oracle."""
    from pagerank_spark.operators.similarity import ann_topk_ivfpq
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_ivfpq(emb, queries, k=_PQ_K, n_cells=_IVF_CELLS,
                          nprobe=_IVFPQ_NPROBE, m=_PQ_M, ksub=_PQ_KSUB,
                          lloyd_iters=1).select(
        "query_id", "neighbor_id", "rank")


def _ann_ivfpq_oracle_sql(dim: int = 64) -> str:
    """IVFADC replay: the IVF codebook chain prunes candidates (qa/cand,
    nprobe=_IVFPQ_NPROBE=4), the PQ chain scores them (codes/lut/ADC)."""
    parts = [_E_EMB_SQL,
             _ivf_codebook_ctes(_IVF_CELLS, dim),
             (f"qa AS (SELECT vec_id, cell FROM ("
              f"SELECT e.vec_id, c.cell, row_number() OVER ("
              f"PARTITION BY e.vec_id ORDER BY "
              f"list_cosine_similarity(e.v, c.v) DESC, c.cell ASC) AS rn "
              f"FROM e, c1 c WHERE e.vec_id < 8) WHERE rn <= {_IVFPQ_NPROBE})"),
             ("cand AS (SELECT DISTINCT qa.vec_id AS query_id, "
              "ca.vec_id AS neighbor_id FROM qa JOIN ca ON ca.cell = qa.cell "
              "WHERE ca.vec_id <> qa.vec_id)"),
             *_pq_ctes(dim, _PQ_M, _PQ_KSUB),
             ("scored AS (SELECT d.query_id, d.neighbor_id, sum(l.ip) AS adc "
              "FROM cand d JOIN codes x ON x.vec_id = d.neighbor_id "
              "JOIN lut l ON l.query_id = d.query_id AND l.s = x.s "
              "AND l.code = x.code GROUP BY 1, 2)")]
    return ("WITH " + ",\n".join(parts) + f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(adc, 9) DESC, neighbor_id ASC)
             AS rank
  FROM scored) WHERE rank <= {_PQ_K}
""")


# embedding-cosine near-dup: same plane-matrix machinery as ANN-LSH but the
# dedup front door (operators/dedup.py embedding_near_duplicates, tables=4)
_EDUP_PLANES, _EDUP_TABLES, _EDUP_SEED = 16, 4, 42
_EDUP_THRESHOLD, _EDUP_COPIES, _EDUP_DIM = 0.9, 25, 64


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over a corpus with planted rescaled twins:
    vec_id < 25 reappear at id+1000 with every component doubled —
    cosine-invariant but byte-different, so exact dedup misses them and
    the cosine path must find them. The full pipeline (hyperplane-LSH
    buckets -> same-bucket candidates -> cosine verify >= 0.9 -> (a, b)
    pairs) runs in both engines with the identical deterministic plane
    matrix. Doubling is an exact power-of-two scale in IEEE fp, so both
    engines hold bit-identical twins; planted cosines sit at ~1.0, the max
    natural pair at sf0.01 is ~0.513 — nothing within ~0.38 of the 0.9
    threshold, no fp boundary risk."""
    from pagerank_spark.operators.dedup import embedding_near_duplicates
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < _EDUP_COPIES).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x * F.lit(2.0).cast("float")).alias("embedding"))
    corpus = emb.unionByName(twins)
    return embedding_near_duplicates(
        corpus, threshold=_EDUP_THRESHOLD, id_col="vec_id",
        vec_col="embedding", planes=_EDUP_PLANES, seed=_EDUP_SEED,
    ).select("a", "b")


def _dedup_embedding_oracle_sql() -> str:
    """embedding_near_duplicates unrolled in DuckDB: plant the same doubled
    twins, bucket by the same inlined plane matrix (sign-bit sum, like the
    ANN-LSH oracle), same-bucket candidate pairs a < b, cosine-verify at
    the same threshold. Only ids are output, so engine fp differences
    would need a cosine within ~1e-15 of 0.9 to matter (planted pairs are
    at ~1.0, natural pairs <= ~0.513)."""
    from pagerank_spark.operators.similarity import plane_matrix
    P = plane_matrix(_EDUP_DIM, _EDUP_PLANES, _EDUP_TABLES, _EDUP_SEED)
    rows = []
    for t in range(_EDUP_TABLES):
        for p in range(_EDUP_PLANES):
            vec = ", ".join(repr(float(x)) for x in P[t * _EDUP_PLANES + p])
            rows.append(f"({t}, {p}, [{vec}]::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH pl(tbl, p, vec) AS (VALUES
{values}
),
base AS (SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000,
                list_transform(embedding, x -> x * CAST(2 AS FLOAT))
         FROM embeddings WHERE vec_id < {_EDUP_COPIES}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM base WHERE embedding IS NOT NULL),
b AS (SELECT e.vec_id, pl.tbl AS tbl,
             sum(CASE WHEN list_dot_product(e.v, pl.vec) >= 0
                 THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
      FROM e, pl GROUP BY 1, 2),
cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM b x JOIN b y ON y.tbl = x.tbl AND y.bucket = x.bucket
         WHERE x.vec_id < y.vec_id)
SELECT a, b FROM cand
JOIN e ea ON ea.vec_id = cand.a
JOIN e eb ON eb.vec_id = cand.b
WHERE list_cosine_similarity(ea.v, eb.v) >= CAST({_EDUP_THRESHOLD} AS DOUBLE)
"""


_SEMDEDUP_CELLS = 16


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py) over the same planted-twin corpus
    as dedup_embedding: IVF codebook clusters, within-cluster cosine >=
    {_EDUP_THRESHOLD}, keep the lower-(centroid_sim, id) member. Twins are
    exact power-of-two rescales, so twin pairs hold cosine exactly 1.0 and
    bit-identical centroid sims in BOTH engines (scaling by 2 is exact in
    IEEE fp and division is correctly rounded) — the kept verdicts carry
    no fp-boundary risk; natural pairs top out ~0.513, far below the
    threshold."""
    from pagerank_spark.operators.semdedup import semantic_dedup
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < _EDUP_COPIES).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: x * F.lit(2.0).cast("float")).alias("embedding"))
    corpus = emb.unionByName(twins)
    return semantic_dedup(corpus, threshold=_EDUP_THRESHOLD,
                          n_cells=_SEMDEDUP_CELLS, lloyd_iters=1).select(
        "id", "cell", "centroid_sim",
        F.col("kept").cast("int").alias("kept"))


def _semantic_dedup_oracle_sql(dim: int = _EDUP_DIM) -> str:
    """semantic_dedup unrolled in DuckDB: plant the doubled twins, rebuild
    the IVF codebook with the shared CTE chain, cosine to the assigned
    centroid, then the one-pass removal rule — x dropped iff a same-cell
    y with pair cosine >= threshold has strictly smaller
    (centroid_sim, id)."""
    return f"""
WITH base AS (SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000,
                     list_transform(embedding, x -> x * CAST(2 AS FLOAT))
              FROM embeddings WHERE vec_id < {_EDUP_COPIES}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM base WHERE embedding IS NOT NULL),
{_ivf_codebook_ctes(_SEMDEDUP_CELLS, dim)},
cs AS (SELECT ca.vec_id AS id, ca.cell, e.v,
              list_cosine_similarity(e.v, c.v) AS sim
       FROM ca JOIN e USING (vec_id) JOIN c1 c USING (cell)),
drop1 AS (SELECT DISTINCT x.id FROM cs x JOIN cs y ON y.cell = x.cell
          WHERE y.id <> x.id
            AND (y.sim < x.sim OR (y.sim = x.sim AND y.id < x.id))
            AND list_cosine_similarity(x.v, y.v)
                >= CAST({_EDUP_THRESHOLD} AS DOUBLE))
SELECT cs.id, cs.cell, round(cs.sim, 6) AS centroid_sim,
       CAST(CASE WHEN drop1.id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM cs LEFT JOIN drop1 ON drop1.id = cs.id
"""


def q_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path: drain the events parquet as a file-source
    stream through the watermarked tumbling-window rollup into a memory
    sink, return the drained table. The stream aggregates through exact
    DECIMAL(18,6) (order-independent), so the result hash-matches the
    batch oracle SQL_EVENTS_HOURLY; batch equivalence is additionally
    asserted in tests/test_streaming.py."""
    from pagerank_spark.streaming.rollup import hourly_rollup_stream, run_to_memory
    import os
    import shutil
    import tempfile
    # the file stream source wants a DIRECTORY; expose the single parquet
    # file through a temp dir symlink (removed after the drain)
    d = tempfile.mkdtemp(prefix="stream_events_")
    try:
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"),
                   os.path.join(d, "events.parquet"))
        ev = (spark.readStream
              .schema("event_id long, ts timestamp_ntz, user_id long, "
                      "event_type string, value double, props string")
              .parquet(d)
              # watermarks require TIMESTAMP (with zone); session tz is UTC
              # so the NTZ->TZ cast is value-preserving
              .withColumn("ts", F.col("ts").cast("timestamp")))
        run_to_memory(hourly_rollup_stream(ev), "q_stream_rollup",
                      output_mode="complete")
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return (spark.table("q_stream_rollup")
            .select(F.col("hour").cast("timestamp_ntz").alias("hour"),
                    "event_type", "n_events", "sum_value"))


MM_N = 64      # media fixture rows
MM_SEED = 7    # synth_media seed


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns -> decode (deterministic fake) -> frame-sample ->
    per-item feature stats via mapInPandas. Oracled: the fake decode is the
    splitmix64 byte generator, which DuckDB replicates exactly with
    HUGEINT-mod-2^64 arithmetic (_multimodal_oracle_sql) — so even the
    stubbed media path is value-hash-checked end to end."""
    from pagerank_spark.operators.multimodal import extract_media_features, synth_media
    media = synth_media(spark, n=MM_N, seed=MM_SEED)
    feats = extract_media_features(media)
    return feats.select("media_id", "kind", "n_bytes", "frames_sampled",
                        F.round("mean", 6).alias("mean"),
                        F.round("std", 6).alias("std"))


def _multimodal_oracle_sql() -> str:
    """synth_media + fake decode + frame sampling + stats in pure SQL.

    splitmix64 (functions/hashing.py) runs exactly in DuckDB: UBIGINT
    xor/shift, with + and * routed through HUGEINT mod 2^64. Frame
    sampling mirrors numpy linspace(0, n-1, 3).astype(int) = [0,
    (n-1)//2, n-1]; mean/std round to 6dp on both sides (stats are
    mathematically identical; rounding absorbs accumulation-order ulps)."""
    G, M1, M2 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
    T, T32 = 1 << 64, 1 << 32
    # HUGEINT is SIGNED int128: a full 64x64 product overflows it, so each
    # constant multiply mod 2^64 splits the constant into 32-bit halves:
    # z*M = z*mlo + ((z*mhi) mod 2^32) * 2^32   (mod 2^64)
    m1hi, m1lo = M1 >> 32, M1 & (T32 - 1)
    m2hi, m2lo = M2 >> 32, M2 & (T32 - 1)

    def mulmod(y: str, hi: int, lo: int) -> str:
        return (f"CAST((({y}::HUGEINT * {lo} + "
                f"(({y}::HUGEINT * {hi}) % {T32}) * {T32}::HUGEINT) % {T}) "
                f"AS UBIGINT)")
    return f"""
WITH ids AS (SELECT unnest(range({MM_N})) AS i),
m AS (SELECT i,
  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  8 + i % 5 AS w, 8 + i % 7 AS h,
  CASE WHEN i % 3 = 0 THEN 1 ELSE 4 + i % 4 END AS nf
  FROM ids),
mm AS (SELECT *, w * h * nf AS size,
       CASE WHEN nf <= 3 THEN nf ELSE 3 END AS fs FROM m),
fidx AS (SELECT mm.i, CAST(t.f AS BIGINT) AS f FROM mm,
         UNNEST(CASE WHEN nf <= 3 THEN range(nf)
                     ELSE [0, (nf - 1) // 2, nf - 1] END) AS t(f)),
pos AS (SELECT fidx.i, fidx.f * mm.h * mm.w + tk.k AS j
        FROM fidx JOIN mm ON mm.i = fidx.i,
        UNNEST(range(mm.h * mm.w)) AS tk(k)),
p1 AS (SELECT i, CAST((j::HUGEINT + {G}::HUGEINT) % {T} AS UBIGINT) AS z FROM pos),
p1y AS (SELECT i, xor(z, z >> 30) AS y FROM p1),
p2 AS (SELECT i, {mulmod('y', m1hi, m1lo)} AS z FROM p1y),
p2y AS (SELECT i, xor(z, z >> 27) AS y FROM p2),
p3 AS (SELECT i, {mulmod('y', m2hi, m2lo)} AS z FROM p2y),
p4 AS (SELECT i, xor(xor(z, z >> 31), xor(CAST({MM_SEED} AS UBIGINT), CAST(i AS UBIGINT))) AS z FROM p3),
q1 AS (SELECT i, CAST((z::HUGEINT + {G}::HUGEINT) % {T} AS UBIGINT) AS z FROM p4),
q1y AS (SELECT i, xor(z, z >> 30) AS y FROM q1),
q2 AS (SELECT i, {mulmod('y', m1hi, m1lo)} AS z FROM q1y),
q2y AS (SELECT i, xor(z, z >> 27) AS y FROM q2),
q3 AS (SELECT i, {mulmod('y', m2hi, m2lo)} AS z FROM q2y),
v AS (SELECT i, CAST(xor(z, z >> 31) % 256 AS DOUBLE) AS val FROM q3)
SELECT mm.i AS media_id, mm.kind, CAST(mm.size AS INT) AS n_bytes,
       CAST(mm.fs AS INT) AS frames_sampled,
       round(avg(v.val), 6) AS mean, round(stddev_pop(v.val), 6) AS std
FROM v JOIN mm ON mm.i = v.i
GROUP BY mm.i, mm.kind, mm.size, mm.fs
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived link graph at sf0.001 -> PageRank to convergence ->
    top pages with degrees (join + sort + limit)."""
    from pagerank_spark.operators.pagerank import pagerank
    sf_dir = "/root/testdata/sf0.001"
    g = _graph(spark, sf_dir)
    res = pagerank(g, alpha=ALPHA, tol=1e-6, max_iter=40)
    return (
        res.ranks.join(g.vertices, "id")
        .select("id", F.round(F.col("rank") * g.n_vertices, 6).alias("rank_n"),
                "out_deg", "in_deg")
        .orderBy(F.desc("rank_n"), F.asc("id"))
        .limit(100)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT (documented per round-3 advice): the driver's
    # per-round correctness harness scores the FIRST 50 entries. With
    # 112 queries, 62 go unscored every round, so the order rotates by
    # evidence freshness — entries come first when they (a) are new (no
    # driver row ever — the strongest claim to a slot), (b) had their
    # implementation changed this round, or (c) were not scored last
    # round; entries with current driver-green rows absorb the
    # truncation. Goal: every query holds a driver-green row, as fresh
    # as the window allows. Round-5 rotation: group 1 = entries whose
    # last driver row is r03 (positions 51-92 in r04), minus ten
    # trivial ones displaced to group 4 (see comment there); group 2 =
    # new since the r04 run (host_boilerplate, ppr_push) plus the three
    # whose implementations changed after the r04 scoring (landmark
    # append-only visited layers, MSF last-round probe, pack_sequences
    # bucket auto-sizing); group 3 = the new round-5 operators; group 4
    # (r04/r03 hash-green, unchanged) carries the truncation.
    return {
        # -- group 1: last driver row is r03 (not scored by the r04 run)
        "pagerank_3iter": q_pagerank_3iter,
        "pagerank_weighted_3iter": q_pagerank_weighted_3iter,
        "pagerank_webgraph_e2e": q_pagerank_webgraph_e2e,
        "connected_components": q_connected_components,
        "label_propagation": q_label_propagation,
        "hits_3iter": q_hits_3iter,
        "coreness": q_coreness,
        "trustrank_spam_mass": q_trustrank_spam_mass,
        "link_prediction": q_link_prediction,
        "betweenness": q_betweenness,
        "k_truss": q_k_truss,
        "anchor_text_index": q_anchor_text_index,
        "streaming_edge_ingest": q_streaming_edge_ingest,
        "multimodal_features": q_multimodal_features,
        # -- group 2: new since the r04 driver run, or implementation
        #    touched after it (bfs.py visited layers; mst.py final probe;
        #    splits.py bucket auto-sizing)
        "host_boilerplate": q_host_boilerplate,
        "ppr_push": q_ppr_push,
        "landmark_distances": q_landmark_distances,
        "minimum_spanning_forest": q_msf,
        "pack_sequences": q_pack_sequences,
        # -- group 3: new round-5 operators (sampling/sketch trio, then
        #    the late-round additions: containment, temperature mix,
        #    frontier scheduling, URL patterns, BM25, matching, SemDeDup,
        #    DSIR, coloring, winnowing, HLL distinct, mirror hosts, CUBE,
        #    PMI collocations, ACL sweep cut) — fill the window to
        #    exactly 50
        "priority_sample_topk": q_priority_sample,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "bloom_frontier": q_bloom_frontier,
        "dedup_containment": q_dedup_containment,
        "temperature_mix": q_temperature_mix,
        "frontier_schedule": q_frontier_schedule,
        "url_patterns": q_url_patterns,
        "bm25_topk": q_bm25_topk,
        "maximal_matching": q_maximal_matching,
        "semantic_dedup": q_semantic_dedup,
        "dsir_select": q_dsir_select,
        "greedy_coloring": q_coloring,
        "winnow_dedup": q_winnow_dedup,
        "hll_distinct": q_hll_distinct,
        "mirror_hosts": q_mirror_hosts,
        "events_cube": q_events_cube,
        "pmi_collocations": q_pmi_collocations,
        "ppr_sweep_cut": q_ppr_sweep_cut,
        "textrank_keywords": q_textrank_keywords,
        "gamma_compression": q_gamma_compression,
        "powerlaw_fit": q_powerlaw_fit,
        "events_funnel": q_events_funnel,
        "events_asof_click": q_events_asof_click,
        "balanced_partition": q_balanced_partition,
        "heat_kernel": q_heat_kernel,
        "bpe_merges": q_bpe_merges,
        # late round-5 pair: the distance-oracle QUERY step and the BPE
        # APPLY step (both new — no driver row ever). bfs_hops was
        # displaced for distance_oracle_est: the estimator runs
        # landmark_bfs TWICE (forward + reversed edges) — the same
        # frontier superstep — and bfs_hops' merged-min variant keeps its
        # pinned per-source-equivalence pytest plus the in-window
        # landmark_distances row. similarity_topk_cosine was displaced
        # for bpe_encode: its exact cosine kernel is the verify stage of
        # the in-window similarity_ann_ivf row and of the r04-green
        # dedup_embedding row, and its own r03-green row stands.
        "distance_oracle_est": q_distance_oracle_est,
        "bpe_encode": q_bpe_encode,
        # kn_perplexity (new — interpolated Kneser-Ney, the smoothed
        # CCNet stage-3 scorer) displaced graph_contraction: both of
        # contraction's factors hold evidence — its weighted-PageRank
        # consumer is in-window (pagerank_weighted_3iter) and the fused
        # contraction∘PR composition row host_pagerank_3iter is
        # r03-green — and its own r03-green row stands.
        "kn_perplexity": q_kn_perplexity,
        # unimax_budgets (new — epoch-capped water-filling allocation)
        # displaced decontaminate: its hashed-shingle join machinery is
        # in-window via winnow_dedup and r04-green via dedup_minhash_lsh /
        # dedup_ngram_jaccard, and its own r03-green row stands.
        "unimax_budgets": q_unimax_budgets,
        # similarity_ann_pq (new — product-quantization ADC, the 4th ANN
        # path) displaced similarity_ann_ivf: the IVF codebook machinery
        # (seeded Lloyd, _ivf_codebook_ctes) is in-window via
        # semantic_dedup, which trains and replays the identical
        # codebook, and ann_ivf's own r03-green row stands.
        "similarity_ann_pq": q_similarity_ann_pq,
        # -- group 4 (tail, beyond the driver's 50). First, ten
        #    r03-green entries displaced from group 1 to make room for
        #    the new round-5 operators above (a new operator with no driver row at
        #    all is strictly weaker evidence than an unchanged one whose
        #    r03 hash-green row stands). Each displaced entry is trivial,
        #    unchanged since r03, pytest-pinned, and its machinery is
        #    still exercised by an in-window or r04-green sibling
        #    (url_normalize ↔ pagerank_webgraph_e2e's ingestion path;
        #    degree_distribution/quantiles/avg_neighbor_degree ↔
        #    graph_degrees + graph_degree_bins + graph_assortativity;
        #    triangles_per_vertex ↔ triangle_count, same triangles.py
        #    enumeration, plus the r04-green clustering-coefficient row;
        #    neighborhood_function ↔ harmonic_centrality in-window plus
        #    the r04-green distance_stats/closeness rows, all four the
        #    same neighborhood.py HyperANF machinery;
        #    streaming_hourly_rollup ↔ events_hourly_rollup r04-green —
        #    identical rollup semantics, batch vs readStream source —
        #    with streaming_edge_ingest keeping the streaming surface
        #    in-window; similarity_ann_lsh ↔ similarity_ann_ivf +
        #    similarity_topk_cosine in-window plus the r04-green
        #    dedup_embedding row, which exercises the same hyperplane-LSH
        #    bucketing; pagerank_personalized ↔ pagerank_3iter/_converged
        #    in-window plus the r04-green ppr_batch row — the same
        #    personalization-vector power iteration; cocitation ↔
        #    link_prediction in-window (the same wedge-join shape and the
        #    same capped-explode/exact dual-plan dispatch, pinned by
        #    cross-plan equivalence pytests) with coupling its direct
        #    r03-green twin). pagerank_converged and seeded_labelprop were
        #    displaced late in round 5 for pmi_collocations/ppr_sweep_cut
        #    by the same rule: pagerank_converged ↔ the in-window
        #    pagerank_3iter/_weighted/_webgraph_e2e rows (the identical
        #    pagerank.py loop; the tol-stop path is pytest-pinned) plus
        #    r04-green ppr_batch/pagerank_mc; seeded_labelprop ↔
        #    label_propagation in-window + r04-green weighted_labelprop
        #    (all three the same labelprop.py min-hash update).
        #    harmonic_centrality was displaced for textrank_keywords:
        #    it shares neighborhood.py's HyperANF superstep with the
        #    r04-green distance_stats + closeness_centrality rows and the
        #    in-window bfs_hops frontier machinery. k_core_44 and bowtie
        #    were displaced for gamma_compression/powerlaw_fit: k_core_44
        #    ↔ coreness in-window (kcore.py's peeling IS coreness.py's
        #    fixpoint truncated at k, pinned by the kcore-vs-coreness
        #    equivalence pytest); bowtie ↔ the r04-green scc row (bowtie =
        #    scc + BFS sweeps) with bfs_hops in-window. triangle_count was
        #    displaced for events_funnel: it shares triangles.py's
        #    ordered-wedge enumeration with the r04-green
        #    clustering_coefficient row and the in-window k_truss edge
        #    support counts. salsa_3iter was displaced for
        #    events_asof_click: it lives in hits.py sharing the
        #    alternating hub/authority double-gather with the in-window
        #    hits_3iter row, and its host-projection input shape is
        #    in-window via host_pagerank_3iter's r03-green row.
        #    host_pagerank_3iter was displaced for balanced_partition: it
        #    is exactly graph_contraction ∘ weighted pagerank, and BOTH
        #    factors are in-window (graph_contraction,
        #    pagerank_weighted_3iter) with its own r03-green row standing.
        #    lpa_modularity was displaced for heat_kernel: its LP chain is
        #    label_propagation (in-window) and its modularity sums share
        #    community.py with the r04-green community_conductance row.
        #    dedup_clusters was displaced for bpe_merges: its minhash pair
        #    pipeline is the r04-green dedup_minhash_lsh row and its
        #    hash-min cluster loop is connected_components in-window.
        "bfs_hops": q_bfs_hops,
        "similarity_topk_cosine": q_similarity_topk_cosine,
        "graph_contraction": q_graph_contraction,
        "decontaminate": q_decontaminate,
        "similarity_ann_ivf": q_similarity_ann_ivf,
        #    similarity_ann_ivfpq (new, late round 5) sits OUT of the
        #    window: both of its factors hold stronger claims to slots —
        #    the PQ stage is in-window (similarity_ann_pq) and the IVF
        #    stage's codebook is in-window via semantic_dedup — and the
        #    full-probe-equals-pure-PQ equivalence pytest plus the
        #    repo-local check_entry replay pin the composition itself.
        "similarity_ann_ivfpq": q_similarity_ann_ivfpq,
        #    vertex_cover (new, late round 5) likewise sits OUT of the
        #    window: its ONLY machinery is maximal_matching, which is
        #    in-window, and the cover projection is pinned by the
        #    covers-every-edge / 2x-matching pytests + check_entry replay.
        "vertex_cover": q_vertex_cover,
        #    simrank (new, late round 5 — Fogaras-Racz MC SimRank) also
        #    sits out of the window: its walk machinery is the r04-green
        #    random_walks/node2vec family (same adjacency index and hash
        #    pick, minus the start term), pinned here by the Python-
        #    reference pytest + the check_entry replay.
        "simrank": q_simrank,
        #    rich_club and embedding_clusters (new, late round 5) also
        #    out-of-window: rich_club is two histograms over the
        #    degree machinery the in-window graph rows pin;
        #    embedding_clusters IS the semantic_dedup codebook pipeline
        #    (in-window) exposed as its assignment table.
        "rich_club": q_rich_club,
        "embedding_clusters": q_embedding_clusters,
        #    sb_perplexity (new — Stupid Backoff, the LM family's third
        #    member) out-of-window like its siblings: the scoring join
        #    shape is kn_perplexity's (in-window) and the counting
        #    aggregates are lm_perplexity's (r04-green), pinned by the
        #    Python-reference pytest + check_entry replay.
        "sb_perplexity": q_sb_perplexity,
        "pagerank_converged": q_pagerank_converged,
        "dedup_clusters": q_dedup_clusters,
        "lpa_modularity": q_lpa_modularity,
        "host_pagerank_3iter": q_host_pagerank_3iter,
        "salsa_3iter": q_salsa_3iter,
        "triangle_count": q_triangle_count,
        "seeded_labelprop": q_seeded_labelprop,
        "harmonic_centrality": q_harmonic_centrality,
        "k_core_44": q_k_core,
        "bowtie": q_bowtie,
        "triangles_per_vertex": q_triangles_per_vertex,
        "cocitation": q_cocitation,
        "neighborhood_function": q_neighborhood_function,
        "streaming_hourly_rollup": q_streaming_hourly_rollup,
        "similarity_ann_lsh": q_similarity_ann_lsh,
        "pagerank_personalized": q_pagerank_personalized,
        "url_normalize": q_url_normalize,
        "degree_distribution": q_degree_distribution,
        "degree_quantiles": q_degree_quantiles,
        "avg_neighbor_degree": q_avg_neighbor_degree,
        "coupling": q_coupling,
        "edge_support": q_edge_support,
        "clustering_coefficient": q_clustering_coefficient,
        #    Then: r04 driver-green rows, unchanged this round — they
        #    carry the truncation.
        "graph_degrees": q_graph_degrees,
        "graph_edge_weights": q_graph_edge_weights,
        "graph_dangling": q_graph_dangling,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "docs_text_profile": q_docs_text_profile,
        "docs_exact_duplicates": q_docs_exact_duplicates,
        "docs_dataset_split": q_docs_dataset_split,
        "docs_vocab_top_terms": q_docs_vocab_top_terms,
        "docs_tfidf_top_terms": q_docs_tfidf_top_terms,
        "random_walks": q_random_walks,
        "covisit_similarity": q_covisit_similarity,
        "sample_neighbors": q_sample_neighbors,
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_top_orders": q_q3_top_orders,
        "q5_region_revenue": q_q5_region_revenue,
        "window_top_orders": q_window_top_orders,
        "events_hourly_rollup": q_events_hourly_rollup,
        "events_sessionization": q_events_sessionization,
        "customers_without_urgent_orders": q_customers_without_urgent_orders,
        "distinct_custkeys_per_priority": q_distinct_custkeys_per_priority,
        "graph_degree_bins": q_graph_degree_bins,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_assortativity": q_graph_assortativity,
        "weighted_labelprop": q_weighted_labelprop,
        "weighted_walks": q_weighted_walks,
        "katz_3iter": q_katz_3iter,
        "resolve_redirects": q_resolve_redirects,
        "node2vec_walks": q_node2vec_walks,
        "pagerank_mc": q_pagerank_mc,
        "scc": q_scc,
        "ppr_batch": q_ppr_batch,
        "closeness_centrality": q_closeness_centrality,
        "dedup_embedding": q_dedup_embedding,
        "eigenvector_3iter": q_eigenvector_3iter,
        "distance_stats": q_distance_stats,
        "sssp_weighted": q_sssp,
        "pii_scrub": q_pii_scrub,
        "docs_repetition": q_docs_repetition,
        "passage_dedup": q_passage_dedup,
        "corpus_filter": q_corpus_filter,
        "maximal_independent_set": q_mis,
        "stratified_sample": q_stratified_sample,
        "densest_subgraph": q_densest_subgraph,
        "lm_perplexity": q_lm_perplexity,
        "community_conductance": q_community_conductance,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "graph_degrees": SQL_GRAPH_DEGREES,
        "graph_edge_weights": SQL_GRAPH_EDGE_WEIGHTS,
        "graph_dangling": SQL_GRAPH_DANGLING,
        "graph_degree_bins": SQL_GRAPH_DEGREE_BINS,
        "pagerank_3iter": _pagerank_oracle_sql(PR_ITERS),
        "pagerank_weighted_3iter": _pagerank_oracle_sql(PR_ITERS, weighted=True),
        "pagerank_personalized": _pagerank_oracle_sql(
            PR_ITERS,
            p_sql=f"(CASE WHEN u.id < {PPR_SEEDS} THEN 1.0 / {PPR_SEEDS} ELSE 0.0 END)"),
        "connected_components": SQL_CONNECTED_COMPONENTS,
        "label_propagation": _labelprop_oracle_sql(LP_ROUNDS),
        "weighted_labelprop": _weighted_labelprop_oracle_sql(LP_ROUNDS),
        "weighted_walks": _weighted_walks_oracle_sql(WALK_LEN, WALKS_R, WALK_SEED),
        "katz_3iter": _katz_oracle_sql(KATZ_ITERS),
        "eigenvector_3iter": _eigenvector_oracle_sql(EIG_ITERS),
        "distance_stats": SQL_DISTANCE_STATS,
        "sssp_weighted": _sssp_oracle_sql(SSSP_ORACLE_ROUNDS),
        "pii_scrub": _pii_oracle_sql(),
        "docs_repetition": _repetition_oracle_sql(),
        "passage_dedup": _passage_dedup_sql(),
        "corpus_filter": _corpus_filter_sql(),
        "maximal_independent_set": _mis_sql(),
        "minimum_spanning_forest": _msf_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "densest_subgraph": _densest_sql(),
        "lm_perplexity": SQL_LM_PERPLEXITY,
        "community_conductance": _conductance_oracle_sql(LP_ROUNDS),
        "landmark_distances": SQL_LANDMARK_DISTANCES,
        "host_boilerplate": _host_boilerplate_sql(),
        "ppr_push": _ppr_push_sql(),
        "priority_sample_topk": _priority_sample_sql(),
        "cms_heavy_hitters": _cms_sql(),
        "bloom_frontier": _bloom_sql(),
        "dedup_containment": SQL_DEDUP_CONTAINMENT,
        "temperature_mix": _temperature_mix_sql(),
        "frontier_schedule": SQL_FRONTIER_SCHEDULE,
        "url_patterns": SQL_URL_PATTERNS,
        "bm25_topk": SQL_BM25_TOPK,
        "maximal_matching": _matching_sql(),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        "dsir_select": _dsir_sql(),
        "greedy_coloring": _coloring_sql(),
        "winnow_dedup": _winnow_sql(),
        "hll_distinct": _hll_distinct_sql(),
        "mirror_hosts": _mirror_hosts_sql(),
        "events_cube": SQL_EVENTS_CUBE,
        "resolve_redirects": _redirects_oracle_sql(REDIR_MAX_HOPS),
        "seeded_labelprop": _seeded_lp_oracle_sql(LP_ROUNDS, SLP_SEEDS),
        "triangle_count": SQL_TRIANGLE_COUNT,
        "triangles_per_vertex": SQL_TRIANGLES_PER_VERTEX,
        "hits_3iter": _hits_oracle_sql(HITS_ITERS),
        "bfs_hops": SQL_BFS_HOPS,
        "k_core_44": _kcore_oracle_sql(KCORE_K, KCORE_ORACLE_ROUNDS),
        "coreness": _coreness_oracle_sql(CORENESS_ORACLE_ROUNDS),
        "scc": SQL_SCC,
        "bowtie": SQL_BOWTIE,
        "neighborhood_function": SQL_NEIGHBORHOOD,
        "harmonic_centrality": _harmonic_oracle_sql(NF_T),
        "clustering_coefficient": SQL_CLUSTERING_COEFFICIENT,
        "graph_assortativity": SQL_GRAPH_ASSORTATIVITY,
        "graph_contraction": SQL_GRAPH_CONTRACTION,
        "host_pagerank_3iter": _host_pagerank_oracle_sql(PR_ITERS),
        "graph_reciprocity": SQL_GRAPH_RECIPROCITY,
        "trustrank_spam_mass": _spam_mass_oracle_sql(PR_ITERS, PPR_SEEDS),
        "random_walks": _random_walks_oracle_sql(WALK_LEN, WALKS_R, WALK_SEED),
        "covisit_similarity": _covisit_oracle_sql(
            WALK_LEN, WALKS_R, WALK_SEED, COVISIT_TOPK),
        "sample_neighbors": _sample_neighbors_oracle_sql(
            SAMPLE_FANOUTS, SAMPLE_SEEDS, WALK_SEED),
        "salsa_3iter": _salsa_oracle_sql(HITS_ITERS),
        "link_prediction": SQL_LINK_PREDICTION,
        "betweenness": _betweenness_oracle_sql(BTW_SOURCES, BTW_DEPTH),
        "q1_pricing_summary": SQL_Q1,
        "q3_top_orders": SQL_Q3,
        "q5_region_revenue": SQL_Q5,
        "window_top_orders": SQL_WINDOW_TOP_ORDERS,
        "events_hourly_rollup": SQL_EVENTS_HOURLY,
        "events_sessionization": SQL_EVENTS_SESSIONS,
        "customers_without_urgent_orders": SQL_CUSTOMERS_WITHOUT_URGENT_ORDERS,
        "distinct_custkeys_per_priority": SQL_DISTINCT_CUSTKEYS,
        "docs_text_profile": _docs_profile_sql(),
        "docs_exact_duplicates": SQL_DOCS_EXACT_DUPES,
        "docs_dataset_split": _dataset_split_sql(),
        "docs_vocab_top_terms": SQL_VOCAB_TOP_TERMS,
        "docs_tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
        "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
        "dedup_minhash_lsh": _minhash_lsh_oracle_sql(),
        "dedup_simhash": _simhash_oracle_sql(),
        "similarity_topk_cosine": SQL_SIMILARITY_TOPK,
        "similarity_ann_lsh": _ann_lsh_oracle_sql(),
        "dedup_embedding": _dedup_embedding_oracle_sql(),
        "similarity_ann_ivf": _ann_ivf_oracle_sql(),
        # the streaming path aggregates through exact DECIMAL(18,6), so the
        # batch rollup SQL is its oracle too (same groups, same sums)
        "streaming_hourly_rollup": SQL_EVENTS_HOURLY,
        # converged run = fixed unroll at the (deterministic) sf0.01 stop depth
        "pagerank_converged": _pagerank_oracle_sql(CONVERGED_ITERS_SF001),
        "closeness_centrality": _closeness_oracle_sql(CLOSENESS_T),
        "lpa_modularity": _lpa_modularity_oracle_sql(LP_ROUNDS),
        "edge_support": SQL_EDGE_SUPPORT,
        "k_truss": _ktruss_oracle_sql(KTRUSS_K, KTRUSS_ORACLE_ROUNDS),
        "cocitation": _pairs_oracle_sql("src", "dst", COCITE_CAP, COCITE_K),
        "coupling": _pairs_oracle_sql("dst", "src", COCITE_CAP, COCITE_K),
        "avg_neighbor_degree": SQL_AVG_NEIGHBOR_DEGREE,
        "degree_distribution": SQL_DEGREE_DISTRIBUTION,
        "degree_quantiles": SQL_DEGREE_QUANTILES,
        "ppr_batch": _ppr_batch_oracle_sql(PR_ITERS),
        # e2e extraction rows: the expected edge/anchor lists unroll
        # driver-side from the F1 generative rule as VALUES literals, so
        # the driver hash-checks the pandas-UDF extraction end to end
        "pagerank_webgraph_e2e": _webgraph_oracle_sql(),
        "anchor_text_index": _anchor_index_oracle_sql(),
        "streaming_edge_ingest": _stream_ingest_oracle_sql(),
        "decontaminate": _decontaminate_sql(),
        "dedup_clusters": _dedup_clusters_oracle_sql(),
        "url_normalize": _url_normalize_sql(),
        "pagerank_mc": _pagerank_mc_oracle_sql(WALK_LEN, WALKS_R, WALK_SEED, ALPHA),
        "node2vec_walks": _node2vec_oracle_sql(WALK_LEN, WALKS_R, N2V_P, N2V_Q, WALK_SEED),
        # even the stubbed media decode is oracled: the fake decoder IS
        # the splitmix64 byte generator, replicated in SQL
        "multimodal_features": _multimodal_oracle_sql(),
        "pmi_collocations": SQL_PMI_COLLOCATIONS,
        "ppr_sweep_cut": _ppr_sweep_cut_sql(),
        "textrank_keywords": _textrank_sql(),
        "gamma_compression": SQL_GAMMA_COMPRESSION,
        "powerlaw_fit": _powerlaw_sql(),
        "events_funnel": _events_funnel_sql(),
        "events_asof_click": SQL_EVENTS_ASOF_CLICK,
        "balanced_partition": _balanced_partition_sql(),
        "heat_kernel": _heat_kernel_sql(),
        "bpe_merges": _bpe_sql(),
        "distance_oracle_est": SQL_DISTANCE_ORACLE_EST,
        "bpe_encode": _bpe_encode_sql(),
        "kn_perplexity": SQL_KN_PERPLEXITY,
        "unimax_budgets": SQL_UNIMAX_BUDGETS,
        "similarity_ann_pq": _ann_pq_oracle_sql(),
        "similarity_ann_ivfpq": _ann_ivfpq_oracle_sql(),
        "vertex_cover": _vertex_cover_sql(),
        "simrank": _simrank_oracle_sql(),
        "rich_club": SQL_RICH_CLUB,
        "embedding_clusters": _embedding_clusters_sql(),
        "sb_perplexity": SQL_SB_PERPLEXITY,
    }
