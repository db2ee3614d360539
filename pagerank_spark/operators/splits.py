"""Deterministic dataset splitting and sampling for training pipelines.

A training corpus at 10^12-document scale needs its train/val/test
assignment to be (a) a pure function of a stable document key — never of
partition layout, row order, or cluster size — so re-runs, backfills, and
incremental appends land every document in the same split forever, and
(b) computable without any shuffle: both operators here are narrow
projections/filters over built-in expressions (md5 + modular arithmetic,
JVM-side, whole-stage codegen), so they cost one scan at any scale and
push down beneath downstream joins.

The hash is ``shared_hash60`` (first 15 md5 hex digits as int64,
operators/dedup.py) — computable verbatim in DuckDB, which makes every
assignment value-hash checkable by the SQL oracle, and uniform enough
that split sizes concentrate tightly around the requested weights
(binomial, relative error O(1/sqrt(n_docs · w))).

Properties tests rely on:
  * partition-invariant and deterministic (pure column function);
  * splits are disjoint and exhaustive (CASE over one bucket value);
  * ``hash_sample`` rates are NESTED: rate r1 <= r2 implies
    sample(r1) is a subset of sample(r2) (thresholding one hash), so
    growing a sample never churns previously selected documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.dedup import shared_hash60

BUCKETS = 10_000  # split resolution: weights quantized to 0.01%


def split_bucket(key: Column, salt: str = "") -> Column:
    """Stable bucket in [0, BUCKETS) for a key column: hash(key || salt).

    ``salt`` derives independent assignments from the same keys (e.g. a
    fresh fold layout per experiment) — change the salt, never the key.
    """
    return F.pmod(shared_hash60(F.concat(key.cast("string"), F.lit(salt))),
                  F.lit(BUCKETS))


def dataset_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label, deterministically by ``key_col``.

    ``weights`` maps label -> fraction (normalized to sum 1; insertion
    order defines the bucket layout, so keep it fixed across runs).
    Default 80/10/10 train/val/test. Pure projection: no shuffle, no RDD,
    no sampling state — the 100-TB plan is one codegen'd scan.

    NULL keys: md5(NULL) is NULL, every ``bucket < t`` comparison is NULL
    (never true), so NULL-keyed rows deterministically take the LAST
    label — identically in Spark and the DuckDB oracle. Same mechanics
    drop NULL keys from every ``hash_sample`` (a NULL filter predicate).
    Key columns are expected non-null; this pins the failure mode rather
    than leaving it engine-defined.
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights sum to zero")

    bucket = split_bucket(F.col(key_col), salt)
    expr = None
    acc = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        acc += weights[label] / total
        threshold = int(round(acc * BUCKETS))
        cond = bucket < F.lit(threshold)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def hash_sample(df: DataFrame, key_col: str, rate: float, salt: str = "") -> DataFrame:
    """Deterministic ~``rate`` sample by key hash (0 <= rate <= 1).

    Unlike ``DataFrame.sample`` this is reproducible across runs, cluster
    sizes, and partitionings, and is NESTED across rates (see module
    docstring). One narrow filter; pushes down to the scan.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1]: {rate}")
    threshold = int(round(rate * BUCKETS))
    return df.filter(split_bucket(F.col(key_col), salt) < F.lit(threshold))


def duckdb_bucket_sql(key_expr: str, salt: str = "") -> str:
    """The DuckDB expression computing exactly ``split_bucket`` (oracle)."""
    s = f"CAST({key_expr} AS VARCHAR) || '{salt}'" if salt else f"CAST({key_expr} AS VARCHAR)"
    return f"(('0x' || substr(md5({s}), 1, 15))::BIGINT % {BUCKETS})"


# auto-sizing target: one packing stream per ~64M tokens keeps every
# window partition executor-bounded (a stream is O(target) rows of small
# fixed-width state) while still giving 10^12-doc corpora ~10^7 parallel
# streams
TARGET_STREAM_TOKENS = 64 * 1024 * 1024


def pack_sequences(docs: DataFrame, budget_tokens: int = 2048,
                   buckets: int | None = 64, id_col: str = "doc_id",
                   text_col: str = "text", salt: str = "pack",
                   target_stream_tokens: int = TARGET_STREAM_TOKENS
                   ) -> DataFrame:
    """Deterministic concat-and-chunk sequence packing: assign every
    document a position in a fixed-width token stream, the way LLM
    pretraining packs documents into ``budget_tokens``-sized training
    sequences (concatenate in a fixed order, cut every ``budget_tokens``;
    documents may straddle a cut — the standard GPT-style packing).

    Documents are distributed over ``buckets`` independent streams by key
    hash and ordered within a stream by ``(hash, id)`` — both pure
    functions of the document key, so the packing is reproducible across
    runs, cluster sizes, and partitionings, and each stream is packed in
    parallel. Returns per document::

        (id, bucket, pos, n_tokens, start_offset, seq_first, seq_last)

    where ``start_offset`` is the exclusive running token count before the
    doc in its stream and ``seq_first``/``seq_last`` the first/last
    ``budget_tokens``-chunk it lands in.

    Scale shape: the only wide op is one window partitioned BY BUCKET, so
    every window partition is bounded and independent; there is no global
    sort and no driver state. With ``buckets=None`` the count is DERIVED
    as ceil(corpus_tokens / target_stream_tokens) by one map-side count
    pass (a single driver scalar), so streams stay ~target_stream_tokens
    at any corpus size — the "pick buckets ~ corpus / stream" guidance as
    code, not a comment. Pass an explicit ``buckets`` to pin the layout
    (the layout is a function of the bucket count; reproducing a packing
    across corpus versions requires pinning it). (A greedy first-fit bin
    packer is inherently sequential per stream; concat-and-chunk is what
    training pipelines actually do, and it is exactly expressible as a
    running sum.)
    """
    from pyspark.sql import Window

    from pagerank_spark.operators.textops import token_count

    if buckets is None:
        if target_stream_tokens <= 0:
            raise ValueError(
                f"target_stream_tokens must be positive: {target_stream_tokens}")
        total = (docs.select(F.sum(token_count(F.col(text_col)))
                             .alias("t")).first()["t"]) or 0
        buckets = max(1, -(-int(total) // int(target_stream_tokens)))
    key = F.col(id_col)
    base = docs.select(
        key.alias("id"),
        F.pmod(shared_hash60(F.concat(key.cast("string"), F.lit(salt))),
               F.lit(buckets)).alias("bucket"),
        shared_hash60(F.concat(key.cast("string"), F.lit(salt + ":o"))
                      ).alias("ord"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"))
    w = Window.partitionBy("bucket").orderBy("ord", "id")
    cum = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    out = base.select(
        "id", "bucket",
        (F.row_number().over(w) - F.lit(1)).alias("pos"),
        "n_tokens",
        cum.alias("start_offset"))
    return out.select(
        "id", "bucket", "pos", "n_tokens", "start_offset",
        F.floor(F.col("start_offset") / budget_tokens).alias("seq_first"),
        F.floor((F.col("start_offset")
                 + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
                / budget_tokens).alias("seq_last"))


U52_SCALE = float(1 << 52)  # priority_sample's uniform-draw resolution


def priority_sample(df: DataFrame, key_col: str, weight_col: str, k: int,
                    salt: str = "ps") -> DataFrame:
    """Deterministic weight-proportional top-``k`` subset with unbiased
    subset-sum estimates — priority sampling (Duffield, Lund & Thorup,
    "Priority sampling for estimation of arbitrary subset sums", JACM
    2007). Every row gets priority q = w / u with u uniform in (0, 1];
    the k largest priorities are the sample, tau is the (k+1)-st
    priority, and est_weight = max(w, tau) is the DLT estimator: for any
    subset S, sum of est_weight over sampled members of S is an unbiased
    estimate of S's true weight. The corpus-mixing primitive: pick a
    quality- or size-weighted representative subset whose per-stratum
    token totals can still be estimated without the full corpus.

    Determinism: u is derived from the FIRST 13 md5 hex digits of
    (key || ':' || salt) — a 52-bit integer, exactly representable as a
    double, so q = w * 2^52 / (u52 + 1) is one IEEE multiply and one
    IEEE divide, bit-identical in Spark and the DuckDB oracle; the sample
    is a pure function of keys and weights, never of partitioning. Like
    hash_sample, samples are NESTED in k: growing k only adds rows.

    Returns ``(key, weight, priority, est_weight, rank)`` for the k
    sampled rows (priority desc, key asc). Rows with weight <= 0 or NULL
    are excluded (DLT requires positive weights). With n <= k rows the
    whole input is returned and tau = 0 (est_weight = weight — the
    estimator is exact when nothing was left out).

    Scale shape: the only wide op is the global top-(k+1) — Spark's
    TakeOrderedAndProject, a per-partition heap + driver merge of k+1
    rows per partition, no full sort, no global window. tau is one
    bounded scalar; rank is a window over the <= k+1 collected rows.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    w = F.col(weight_col).cast("double")
    u52 = F.conv(F.substring(F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
        1, 13), 16, 10).cast("long")
    pri = w * F.lit(U52_SCALE) / (u52 + F.lit(1)).cast("double")
    scored = (df.filter(w > 0)
              .select(F.col(key_col).alias("key"), w.alias("weight"),
                      pri.alias("priority")))
    top = (scored.orderBy(F.desc("priority"), "key").limit(k + 1)
           .localCheckpoint(eager=True))  # <= k+1 rows
    kth = (top.orderBy("priority").limit(1).collect()
           if top.count() == k + 1 else [])
    tau = kth[0]["priority"] if kth else 0.0
    order = Window.orderBy(F.desc("priority"), "key")
    return (top.withColumn("rank", F.row_number().over(order))
            .filter(F.col("rank") <= k)
            .select("key", "weight", "priority",
                    F.greatest(F.col("weight"), F.lit(tau)).alias("est_weight"),
                    "rank"))


def duckdb_priority_sql(key_expr: str, weight_expr: str, salt: str = "ps") -> str:
    """The DuckDB expression computing exactly priority_sample's priority."""
    u = (f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':{salt}'), "
         f"1, 13))::BIGINT + 1)")
    return (f"(CAST({weight_expr} AS DOUBLE) * {U52_SCALE!r} "
            f"/ CAST({u} AS DOUBLE))")


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Deterministic per-stratum hash sampling: keep each row with its
    stratum's rate (strata value -> rate in [0, 1]; unlisted strata get
    ``default_rate``). The corpus-balancing primitive — e.g. down-sample
    dominant languages or low-quality tiers while keeping every rare
    stratum — with all of hash_sample's guarantees: reproducible across
    runs/partitionings, NESTED per stratum (raising one stratum's rate
    only ever adds rows), and a pure narrow filter (one CASE over the
    stratum value against the shared key hash — no shuffle, no per-stratum
    scan, pushes beneath downstream joins).
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {s!r} must be in [0, 1]: {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1]: {default_rate}")
    bucket = split_bucket(F.col(key_col), salt)
    thr = F.lit(int(round(default_rate * BUCKETS)))
    for s, r in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == s,
                     F.lit(int(round(r * BUCKETS)))).otherwise(thr)
    return df.filter(bucket < thr)


def temperature_mix(df: DataFrame, key_col: str, strata_col: str,
                    tau: float = 0.7, salt: str = "") -> DataFrame:
    """Temperature-scaled corpus mixing: sample each stratum so the output
    mixture follows p_s ∝ n_s^tau (the multilingual-training rebalancing
    rule — tau < 1 flattens dominant strata toward the rare ones; tau = 1
    is the natural distribution; tau = 0 is uniform-by-stratum). Used to
    keep a 90%-English crawl from drowning every other language.

    Down-sampling only (rates <= 1, no row duplication): the keep rate for
    stratum s is r_s = (n_s / n_min)^(tau-1), which is exactly 1 for the
    rarest stratum and the unique scaling that realizes the n^tau mixture
    without upsampling. Rates are quantized to the shared BUCKETS grid, so
    row membership is the same deterministic, NESTED-in-tau hash filter as
    ``stratified_sample``.

    Scale shape: one map-side-combinable groupBy over the stratum column
    (output rows = #strata), a 1-row global min, then a broadcast join of
    the threshold table back onto the corpus — the big table is touched by
    exactly one scan + one narrow filter; no window, no per-stratum pass.
    Thresholds are computed IN-PLAN (F.pow, no collect), so the operator
    composes lazily under further transformations.

    Returns the sampled rows with an added ``mix_threshold`` column (the
    stratum's integer bucket threshold — rate = mix_threshold / BUCKETS)."""
    if not 0.0 <= tau <= 1.0:
        raise ValueError(f"tau must be in [0, 1] (down-sampling only): {tau}")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_s"))
    n_min = counts.agg(F.min("n_s").alias("n_min"))
    thr = (counts.crossJoin(F.broadcast(n_min))
           .select(strata_col,
                   F.round(F.pow(F.col("n_s") / F.col("n_min"),
                                 F.lit(tau - 1.0)) * BUCKETS)
                   .cast("int").alias("mix_threshold")))
    bucket = split_bucket(F.col(key_col), salt)
    return (df.join(F.broadcast(thr), strata_col)
            .filter(bucket < F.col("mix_threshold")))


def unimax_budgets(df: DataFrame, strata_col: str, budget: float,
                   max_epochs: float = 4.0,
                   weight_col: str | None = None) -> DataFrame:
    """UniMax sampling-budget allocation (Chung et al., "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): split a total training budget across strata
    (languages) as uniformly as possible subject to a per-stratum repeat
    cap — no stratum contributes more than ``max_epochs`` passes over its
    corpus. The temperature knob of :func:`temperature_mix` disappears;
    the only parameter is the epoch cap.

    Water-filling closed form: visit strata in ascending corpus-size
    order; while a stratum's full capacity ``max_epochs * n_s`` is below
    the current fair share ``remaining_budget / remaining_strata`` it is
    CAPPED at capacity, and once one stratum is uncapped every larger one
    is too (the fair share is invariant from there on — b = quota keeps
    quota constant), so the allocation is: capped prefix at capacity, the
    rest split the leftover equally. That prefix structure lets the whole
    computation stay IN-PLAN: one stratum aggregate, one window over the
    S-row stratum table (S = #languages — a driver-free "collect"-sized
    frame; the single-partition window is deliberate and bounded), two
    1-row aggregates broadcast back. The corpus is touched by exactly one
    scan.

    ``weight_col`` sizes strata by its sum (e.g. token counts) instead of
    row counts. Returns ``(strata_col, n_s, budget_s, epochs_s)`` with
    budget_s/epochs_s rounded to 6 dp; Σ budget_s = budget when total
    capacity allows, else every stratum caps (Σ = max_epochs * N). Raises
    ValueError if a stratum's ``weight_col`` sum is <= 0.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError(f"budget must be > 0: {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0: {max_epochs}")
    b, e = float(budget), float(max_epochs)
    w = (F.count(F.lit(1)) if weight_col is None
         else F.sum(F.col(weight_col)))
    counts = df.groupBy(strata_col).agg(w.cast("double").alias("n_s"))
    if weight_col is not None:
        # a stratum of weight <= 0 has no capacity: its epochs would be
        # NaN/inf and it would sort to the front of the water-filling
        bad = counts.filter(F.col("n_s") <= 0).limit(1).collect()
        if bad:
            raise ValueError(f"stratum {bad[0][strata_col]!r} has weight "
                             f"sum {bad[0]['n_s']} (must be > 0)")
    win = Window.orderBy("n_s", strata_col)
    ranked = counts.select(
        strata_col, "n_s",
        F.row_number().over(win).alias("rk"),
        (F.sum("n_s").over(win) - F.col("n_s")).alias("cum_prev"))
    totals = ranked.agg(F.count(F.lit(1)).alias("n_strata"))
    # first rank whose full capacity exceeds its fair share (S+1 if none)
    flagged = ranked.crossJoin(F.broadcast(totals))
    k0 = (flagged
          .agg(F.min(F.when(
              F.lit(e) * F.col("n_s") * (F.col("n_strata") - F.col("rk") + 1)
              > F.lit(b) - F.lit(e) * F.col("cum_prev"),
              F.col("rk"))).alias("k0")))
    capped_sum = (flagged.crossJoin(F.broadcast(k0))
                  .agg(F.sum(F.when(
                      F.col("rk") < F.coalesce(F.col("k0"),
                                               F.col("n_strata") + 1),
                      F.col("n_s")).otherwise(F.lit(0.0)))
                      .alias("capped_n")))
    out = (flagged.crossJoin(F.broadcast(k0))
           .crossJoin(F.broadcast(capped_sum))
           .withColumn("_k0", F.coalesce(F.col("k0"),
                                         F.col("n_strata") + 1))
           .withColumn("budget_s", F.when(
               F.col("rk") < F.col("_k0"), F.lit(e) * F.col("n_s"))
               .otherwise((F.lit(b) - F.lit(e) * F.col("capped_n"))
                          / (F.col("n_strata") - F.col("_k0") + 1)))
           .select(strata_col, "n_s",
                   F.round("budget_s", 6).alias("budget_s"),
                   F.round(F.col("budget_s") / F.col("n_s"), 6)
                   .alias("epochs_s")))
    return out
