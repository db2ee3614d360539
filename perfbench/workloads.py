"""The benchmark workloads: seeded inputs, one timed repetition each, and the
output checks against the NumPy and networkx oracles.

Every workload is closed loop: one client, one Spark job at a time. The seed
never changes the amount of work. On ``graph_algos`` it picks an
order-preserving relabeling into the 2^20 id space; on ``crawl_pipeline`` it
picks the number of sites the page urls are spread over. Each seed therefore gives
an isomorphic graph with the same edge and vertex counts.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd

ID_BITS = 20
ID_MASK = (1 << ID_BITS) - 1
TABLE_SEED = 42             # the lineitem-like table itself is fixed
RANK_SUM_TOL = 1e-9
RANK_RTOL, RANK_ATOL = 1e-6, 1e-9

# crawled pages and the PageRank superstep cap, or rows of the lineitem-like
# table, per size
SIZES: dict[str, dict[str, dict[str, int]]] = {
    "crawl_pipeline": {"full": {"pages": 1_000, "supersteps": 8},
                       "tiny": {"pages": 150, "supersteps": 4}},
    "graph_algos": {"full": {"rows": 20_000}, "tiny": {"rows": 600}},
}


def relabel(src: np.ndarray, dst: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Map the ids one-to-one onto a seed-chosen set of ids in the 2^20 id
    space, keeping their order. The graph is the same up to names, and so
    is every min-label tie-break of CC and label propagation, hence the
    number of rounds; only where ids hash and sort differs by seed."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    rng = np.random.default_rng([seed, 0x5EED])
    new = np.sort(rng.choice(1 << ID_BITS, size=len(ids), replace=False))
    return new[inv[: len(src)]], new[inv[len(src):]]


def lineitem_edges(rows: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) = (partkey, orderkey) of a fixed TPC-H-like lineitem table
    (partkey uniform over rows/30 ids, orderkey over rows/4, as in TPC-H),
    relabeled by the seed."""
    rng = np.random.default_rng(TABLE_SEED)
    part = rng.integers(0, max(rows // 30, 1), rows, dtype=np.int64)
    order = rng.integers(0, max(rows // 4, 1), rows, dtype=np.int64)
    return relabel(part, order, seed)


def seeded_graph(rows: int, seed: int):
    """(src, dst, sorted ids, dense src, dense dst) of the seeded lineitem
    graph; raises if the seed changed the vertex count."""
    src, dst = lineitem_edges(rows, seed)
    ids, s, d = dense(src, dst)
    if len(ids) != len(dense(*lineitem_edges(rows, 0))[0]):
        raise RuntimeError("the seed changed the vertex count; relabeling is broken")
    return src, dst, ids, s, d


def crawl_sites(seed: int) -> int:
    return 1 + seed % 1000


def dense(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Order-preserving dense ids: (sorted distinct ids, src, dst) in 0..n-1."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


@dataclass
class Rep:
    """One timed repetition of a workload."""
    wall_s: float
    supersteps_s: list[float] = field(default_factory=list)
    # (rounds, seconds) of the fixpoint loops, for edges/s/iter without supersteps
    rounds: tuple[int, float] | None = None
    layer: dict[str, float] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


class Workload:
    """``prepare`` builds the seeded inputs and oracles on the host,
    ``materialize`` caches the inputs in Spark, ``run`` is one timed
    repetition followed by its output checks."""

    name = ""

    def __init__(self, spark, seed: int, size: str, tmp_dir: str):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.tmp_dir = tmp_dir
        self.n_pages = 0
        self.cached: list[Any] = []

    def prepare(self) -> None:
        """Seeded host-side inputs and oracles (outside every timed region)."""

    def materialize(self) -> None:
        """Load the prepared inputs into Spark and cache them."""

    def run(self, tracer, check_oracle: bool) -> Rep:
        raise NotImplementedError

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def _cache(self, df):
        from pyspark.storagelevel import StorageLevel
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self.cached.append(df)
        return df


def _expect(rep: Rep, what: str, got: Any, want: Any) -> None:
    if got != want:
        rep.failures.append(f"{what}: got {got}, expected {want}")


def _check_rank_sum(rep: Rep, res) -> None:
    """Σrank = 1, read from the run's own last metrics row."""
    total = res.metrics[-1]["rank_sum"]
    if not abs(total - 1.0) <= RANK_SUM_TOL:
        rep.failures.append(f"rank sum {total!r} is not 1 within {RANK_SUM_TOL}")


def _compare_ranks(rep: Rep, got: np.ndarray, want: np.ndarray) -> None:
    if not np.allclose(got, want, rtol=RANK_RTOL, atol=RANK_ATOL):
        worst = float(np.max(np.abs(got - want)))
        rep.failures.append(f"ranks differ from pagerank_oracle (max |diff| {worst:.3g})")


_PAGE_RE = re.compile(r"/page(\d+)$")


def _checkpoint_stats(directory: str) -> tuple[int, int, int]:
    """(supersteps, files, bytes) committed under a checkpointer's ranks/,
    not counting the initial state (iter=0)."""
    base = os.path.join(directory, "ranks")
    steps = files = size = 0
    for name in os.listdir(base):
        if not name.startswith("iter=") or name == "iter=0":
            continue
        steps += 1
        for f in os.scandir(os.path.join(base, name)):
            files += 1
            size += f.stat().st_size
    return steps, files, size


class CrawlPipeline(Workload):
    """graph_from_pages (extract UDF -> url dictionary -> build), then
    PageRank with the L1 <= 1e-6 stop test and a directory-backed checkpoint
    per superstep, capped at a fixed number of supersteps (the graph needs
    ~50 to converge, more than a run's time allows)."""

    name = "crawl_pipeline"

    def prepare(self) -> None:
        from pagerank_spark.oracle import pagerank_oracle
        from pagerank_spark.sources.synth import outlink_ids
        n = self.n_pages = self.size["pages"]
        edges = [(i, j) for i in range(n) for j in outlink_ids(i)]
        self.n_edges, self.n_vertices = len(edges), n  # every target is a crawled page
        self.oracle = pagerank_oracle(edges, n, max_iter=self.size["supersteps"])
        self._reps = 0

    def materialize(self) -> None:
        from pagerank_spark.sources.synth import synth_pages
        self.pages = self._cache(synth_pages(self.spark, self.n_pages, crawl_sites(self.seed)))

    def run(self, tracer, check_oracle: bool) -> Rep:
        from pagerank_spark.operators.graph import graph_from_pages
        from pagerank_spark.operators.pagerank import pagerank
        from pagerank_spark.plans.checkpoint import SuperstepCheckpointer
        self._reps += 1
        ckpt_dir = os.path.join(self.tmp_dir, f"ckpt-{self._reps}")
        t0 = time.monotonic()
        with tracer.span("graph.build"):
            g = graph_from_pages(self.spark, self.pages)
        with tracer.span("pagerank.rank"):
            res = pagerank(g, max_iter=self.size["supersteps"],
                           checkpointer=SuperstepCheckpointer(self.spark, ckpt_dir))
            n_ranked = res.ranks.count()
        rep = Rep(wall_s=time.monotonic() - t0,
                  supersteps_s=[m["wall_ms"] / 1e3 for m in res.metrics])
        steps, files, size = _checkpoint_stats(ckpt_dir)
        rep.layer = {"pagerank.iterations": res.iterations,
                     "checkpoint.files_per_superstep": files / max(steps, 1),
                     "checkpoint.mb_per_superstep": size / 1e6 / max(steps, 1)}
        _expect(rep, "n_edges", g.n_edges, self.n_edges)
        _expect(rep, "n_vertices", g.n_vertices, self.n_vertices)
        _expect(rep, "ranked vertices", n_ranked, self.n_vertices)
        _expect(rep, "iterations", res.iterations, self.size["supersteps"])
        _check_rank_sum(rep, res)
        if check_oracle:
            got = res.ranks.join(g.url_dict, "id").select("url", "rank").toPandas()
            page = got["url"].str.extract(_PAGE_RE, expand=False).astype(np.int64)
            _compare_ranks(rep, got["rank"].to_numpy(), self.oracle[page.to_numpy()])
        g.unpersist()
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        return rep


class GraphAlgos(Workload):
    """connected_components, label_propagation (20-round cap) and
    triangle_count over one lineitem-like edge table."""

    name = "graph_algos"

    def prepare(self) -> None:
        import networkx as nx
        from pagerank_spark.oracle import components_oracle
        src, dst, ids, s, d = seeded_graph(self.size["rows"], self.seed)
        self.pdf = pd.DataFrame({"src": src, "dst": dst})
        self.n_edges, self.n_vertices = len(src), len(ids)
        loops = s == d
        self.n_linked = len(np.unique(np.concatenate([s[~loops], d[~loops]])))
        self.components = dict(zip(ids.tolist(), ids[components_oracle(zip(s, d), len(ids))].tolist()))
        g = nx.Graph()
        g.add_edges_from(zip(s[~loops].tolist(), d[~loops].tolist()))
        self.triangles = sum(nx.triangles(g).values()) // 3

    def materialize(self) -> None:
        self.edges = self._cache(self.spark.createDataFrame(self.pdf))

    def run(self, tracer, check_oracle: bool) -> Rep:
        from pagerank_spark.operators.components import connected_components
        from pagerank_spark.operators.labelprop import label_propagation
        from pagerank_spark.operators.triangles import triangle_count
        t0 = time.monotonic()
        with tracer.span("components"):
            cc = connected_components(self.edges)
            n_cc = cc.labels.count()
        with tracer.span("labelprop"):
            lp = label_propagation(self.edges)
            n_lp = lp.labels.count()
        t2 = time.monotonic()
        with tracer.span("triangles"):
            tri = triangle_count(self.edges)
        rep = Rep(wall_s=time.monotonic() - t0,
                  rounds=(cc.rounds + lp.rounds, t2 - t0))
        rep.layer = {"components.rounds": cc.rounds, "labelprop.rounds": lp.rounds}
        _expect(rep, "component labels", n_cc, self.n_vertices)
        _expect(rep, "propagated labels", n_lp, self.n_linked)
        _expect(rep, "triangles", tri, self.triangles)
        _expect(rep, "components converged", cc.converged, True)
        if check_oracle:
            got = dict(cc.labels.toPandas().itertuples(index=False, name=None))
            _expect(rep, "components equal components_oracle", got == self.components, True)
        return rep


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (CrawlPipeline, GraphAlgos)}
