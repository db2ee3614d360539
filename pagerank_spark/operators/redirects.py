"""Redirect/canonical chain resolution: follow each page's redirect chain
to its terminal target by pointer doubling.

Webtext obligation beyond the reference's kernels (the input_hint's pages
carry redirect/canonical links; every crawl pipeline needs the terminal
target before dedup/rank aggregation). The input is a FUNCTIONAL graph —
at most one outgoing redirect per src (enforced; duplicates to the same
dst collapse, conflicting dsts raise) — so chains resolve in
ceil(log2(max_hops)) pointer-doubling rounds instead of max_hops
sequential joins: round k composes the map with itself, covering 2^k hops
(Wyllie-style shortcutting, the standard parallel list-ranking move, same
discipline as components.py's hash-min doubling).

Semantics (deterministic, SQL-expressible as k non-recursive self-joins so
the DuckDB oracle mirrors the plan exactly):

  state_0(x)   = (next(x), done=false)        for every redirecting x
  state_k(x)   = state_{k-1}(ptr) composed     [done sticks]
  done         = ptr has no outgoing redirect (terminal reached)

After r rounds every chain of length <= 2^r is resolved. Sources still
unresolved after the round budget — cycles, or chains longer than the cap
— surface with ``resolved=false`` and their last-followed pointer (never
silently dropped, same contract as scc.py's converged flag).

Scale shape: O(R) state rows (R = redirecting pages, not all pages), one
self-equi-join per round, log2 rounds. No windows, no collect; the only
driver-side scalar is the optional early-exit count, which rides the
round's materialization as an observed metric.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.fixpoint import fixpoint, release


@dataclass
class RedirectResult:
    targets: DataFrame    # (id long, final_id long, resolved boolean)
    rounds: int


def resolve_redirects(
    redirects: DataFrame,
    max_hops: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> RedirectResult:
    """Resolve each redirecting page to its terminal target.

    ``redirects``: one directed redirect edge per row; at most one distinct
    dst per src (a src appearing with two different dsts raises ValueError
    — a crawl bug, not a resolvable input). Self-redirects (src == dst)
    are 1-cycles and come back ``resolved=false``.

    Output has one row per DISTINCT redirecting src: ``final_id`` is the
    terminal target when ``resolved``, else the pointer reached when the
    hop budget (< 2^rounds) ran out (cycle members point somewhere inside
    their cycle).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    r = (redirects.select(F.col(src_col).alias("id"),
                          F.col(dst_col).alias("ptr"))
         .distinct().localCheckpoint(eager=True))
    dup = (r.groupBy("id").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") > 1).limit(5).collect())
    if dup:
        ids = ", ".join(str(row["id"]) for row in dup)
        raise ValueError(
            f"not a functional redirect graph: src(s) {ids} map to more "
            "than one distinct dst")

    # done = the pointer itself does not redirect (terminal); a self-loop
    # is never done (its pointer always redirects — to itself)
    hop = r.select(F.col("id").alias("_h_id"), F.col("ptr").alias("_h_ptr"))
    state = (
        r.join(hop, r["ptr"] == hop["_h_id"], "left")
        .select("id", "ptr", F.col("_h_id").isNull().alias("done"))
        .localCheckpoint(eager=True)
    )

    def step(state: DataFrame, _prev) -> DataFrame:
        nxt = state.select(F.col("id").alias("_n_id"),
                           F.col("ptr").alias("_n_ptr"),
                           F.col("done").alias("_n_done"))
        return (
            state.join(nxt, state["ptr"] == nxt["_n_id"], "left")
            .select(
                "id",
                F.when(F.col("done") | F.col("_n_id").isNull(), F.col("ptr"))
                .otherwise(F.col("_n_ptr")).alias("ptr"),
                (F.col("done") | F.col("_n_id").isNull()
                 | F.col("_n_done")).alias("done"),
            )
        )

    # round k covers 2^k hops: stop at the first round covering max_hops
    run = fixpoint(state, step,
                   [F.sum(F.when(~F.col("done"), 1).otherwise(0)).alias("open")],
                   lambda stats, _: not stats["open"], (max_hops - 1).bit_length())
    release(r)
    out = run.state.select("id", F.col("ptr").alias("final_id"),
                       F.col("done").alias("resolved"))
    return RedirectResult(targets=out, rounds=run.rounds)
