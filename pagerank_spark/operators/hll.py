"""HyperLogLog approximate COUNT DISTINCT per group, oracle-replayable.

Flajolet, Fusy, Gandouet & Meunier, "HyperLogLog: the analysis of a
near-optimal cardinality estimation algorithm" (AofA 2007), with the
standard small-range linear-counting correction. The per-hop register
union inside neighborhood.py (HyperANF) uses the same sketch with the
fast JVM xxhash64; THIS module is the standalone engine surface —
`SELECT grp, approx_count_distinct(v)` — built on dedup.shared_hash60 so
every register, and therefore the estimate itself, replays
bit-identically in the DuckDB oracle.

Determinism across engines (why the estimate is hash-exact, not just
close): the register max is integer; the harmonic sum Σ 2^-r is carried
as the INTEGER Σ 2^(SCALE−r) (SCALE = one more than the max possible
rho, so every addend is a positive integer — no float-addition-order
nondeterminism between Spark's aggregate and DuckDB's); the single
float division alpha·m²·2^SCALE / S happens once, on identically-rounded
inputs, under IEEE round-to-nearest in both engines. The linear-counting
branch has one libm ln() — estimates are rounded to 4 decimals, leaving
~10 orders of magnitude of margin over a last-ulp ln disagreement.

Scale shape (100 TB): the sketch build is ONE hash aggregate keyed
(group, register) — map-side partials collapse duplicate values before
the exchange, so shuffle volume is ≤ groups × m rows (m = 2^b,
rel. std. err. ≈ 1.04/√m) regardless of input size; the finalize is a
second groups-keyed aggregate of m-bounded fan-in. This is the exact
two-level shape of the PageRank contribution sum (SURVEY §2.4 A2) — no
windows, no distinct-expand, no driver state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.dedup import shared_hash60

HASH_BITS = 60  # shared_hash60 yields a uniform non-negative 60-bit int


def _alpha(m: int) -> float:
    """HLL bias-correction constant for m registers (Flajolet et al. Fig. 3)."""
    if m <= 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_count_distinct(df: DataFrame, group_cols: Sequence[str],
                       value_col: str, *, b: int = 10,
                       out_col: str = "approx_distinct") -> DataFrame:
    """Per-group HLL estimate of ``count(distinct value_col)``.

    ``b`` register-index bits (m = 2^b registers, standard error
    ≈ 1.04/√m); returns one row per group with the estimate rounded to
    4 decimals. NULL values are ignored (SQL COUNT DISTINCT semantics).
    """
    if not 4 <= b <= 20:
        raise ValueError("b must be in [4, 20]")
    m = 1 << b
    wbits = HASH_BITS - b
    scale = wbits + 1           # max rho == wbits + 1 (all-zero suffix)
    gcols = list(group_cols)

    h = shared_hash60(F.col(value_col))
    j = F.pmod(h, F.lit(m))
    w = F.shiftright(h, b)
    # rho = trailing zeros of w, + 1; tz(w) = bit_count((w & -w) - 1)
    rho = (F.when(w == 0, F.lit(scale))
           .otherwise(F.bit_count(w.bitwiseAND(-w) - F.lit(1)) + F.lit(1)))

    regs = (df.filter(F.col(value_col).isNotNull())
            .groupBy(*gcols, j.alias("j"))
            .agg(F.max(rho).alias("r")))
    agg = (regs.groupBy(*gcols)
           .agg(F.count(F.lit(1)).alias("nz"),
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - r)"))
                .alias("s_nz")))
    # zero registers each contribute 2^(scale-0)
    s = (F.col("s_nz")
         + (F.lit(m) - F.col("nz")) * F.lit(1 << scale).cast("long"))
    e_raw = F.lit(_alpha(m) * m * m * float(1 << scale)) / s.cast("double")
    v = F.lit(m) - F.col("nz")  # zero-register count
    est = (F.when((e_raw <= 2.5 * m) & (v > 0),
                  F.lit(float(m)) * F.log(F.lit(float(m)) / v))
           .otherwise(e_raw))
    return agg.select(*gcols, F.round(est, 4).alias(out_col))


def hll_sql(group_expr: str, value_expr: str, table_sql: str, *,
            b: int = 10, out_col: str = "approx_distinct") -> str:
    """The DuckDB replay of :func:`hll_count_distinct` — same registers,
    same integer harmonic sum, same corrections — used by the driver
    oracle (and handy for eyeballing parity on any parquet)."""
    m = 1 << b
    wbits = HASH_BITS - b
    scale = wbits + 1
    h = f"('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 15))::BIGINT"
    return f"""
regs AS (
  SELECT {group_expr} AS grp, ({h} % {m}) AS j,
         max(CASE WHEN ({h} >> {b}) = 0 THEN {scale}
             ELSE bit_count((({h} >> {b}) & -({h} >> {b})) - 1) + 1
             END) AS r
  FROM {table_sql} WHERE {value_expr} IS NOT NULL GROUP BY 1, 2),
hagg AS (
  SELECT grp, count(*) AS nz,
         sum((1::BIGINT << ({scale} - r))::BIGINT)::BIGINT AS s_nz
  FROM regs GROUP BY grp),
hest AS (
  SELECT grp, nz,
         {_alpha(m) * m * m * float(1 << scale)!r}
         / CAST(s_nz + ({m} - nz) * (1::BIGINT << {scale}) AS DOUBLE)
         AS e_raw
  FROM hagg)
SELECT grp, round(CASE WHEN e_raw <= {2.5 * m!r} AND nz < {m}
       THEN {float(m)!r} * ln({float(m)!r} / ({m} - nz))
       ELSE e_raw END, 4) AS {out_col}
FROM hest
"""
