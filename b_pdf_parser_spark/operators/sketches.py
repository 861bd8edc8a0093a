"""HyperLogLog distinct-count sketch (plus Count-Min), from scratch and exact.

Flajolet et al. 2007 (public): hash every key, use the top ``b`` bits as a
register index and the position of the first 1-bit in the remainder as the
register value; the harmonic mean of ``2^-register`` estimates the distinct
count. The POINT of the sketch at 100 TB is mergeability: per-partition
register vectors combine by element-wise MAX, so a 10^12-row distinct count
is one map-side-combined ``groupBy(register).max()`` over ``m`` rows — no
shuffle of the keys themselves, and sketches from different days/sources
merge the same way (Spark's own ``approx_count_distinct`` is this HLL++,
but its sketch is opaque — this one is a DataFrame, so merges and register
values can be checked exactly).

Determinism: md5-derived 60-bit hashes, integer register/rho extraction (a
generated integer CASE chain — no floating log2 whose last-ulp could flip
an engine), and the harmonic denominator summed as exact DECIMAL(38,0)
powers of two (``2^(90-rho)``), so the final estimate is one double
division on identical operands in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = [
    "rho_case_sql",
    "hll_registers",
    "hll_estimate",
    "HLL_REST_BITS",
    "cms_counters",
    "cms_estimate",
]

HLL_REST_BITS = 52  # 60-bit hash minus up to 8 register bits


def rho_case_sql(rest_expr: str, rest_bits: int = HLL_REST_BITS) -> str:
    """Leading-zero count (+1) of a ``rest_bits``-wide integer field as a
    pure integer CASE chain in plain SQL text, so there is no
    engine-specific bit intrinsic or floating log whose rounding could
    diverge."""
    arms = " ".join(
        f"WHEN {rest_expr} >= {1 << (rest_bits - k)} THEN {k}"
        for k in range(1, rest_bits + 1)
    )
    return f"(CASE {arms} ELSE {rest_bits + 1} END)"


def _alpha_m2_pow90(b: int) -> float:
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * (m * m) * float(2**90)


def hll_registers(df: DataFrame, key_col: str, b: int = 8) -> DataFrame:
    """→ the mergeable sketch: ``(reg, mx)`` with one row per TOUCHED
    register (merge two sketches by union + ``groupBy(reg).max(mx)``).
    Map-side combined; the shuffle carries at most ``m`` rows per
    partition regardless of input size."""
    m = 1 << b
    h = (f"CAST(conv(substr(md5(CAST({key_col} AS STRING)), 1, 15), 16, 10)"
         " AS BIGINT)")
    reg = f"CAST({h} DIV {1 << HLL_REST_BITS} AS BIGINT)"
    rest = f"({h} % {1 << HLL_REST_BITS})"
    if m > (1 << 8):
        raise ValueError("b > 8 would need a wider hash split")
    return (
        df.select(
            F.expr(f"{reg} % {m}").alias("reg"),
            F.expr(rho_case_sql(rest)).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("mx"))
    )


def hll_estimate(regs: DataFrame, b: int = 8) -> DataFrame:
    """Sketch → 1-row ``(estimate, v_zero)``. Standard HLL estimate with
    the small-range linear-counting correction; the harmonic denominator
    is an exact decimal sum, the estimate a single double division plus
    (in the small branch) one libm ``ln`` — both absorbed by round(,4)."""
    m = 1 << b
    spark = regs.sparkSession
    allregs = spark.range(m).select(F.col("id").alias("reg"))
    full = allregs.join(regs, "reg", "left").select(
        F.coalesce("mx", F.lit(0)).alias("mx")
    )
    agg = full.agg(
        F.sum(F.expr("CAST(power(2, 90 - mx) AS DECIMAL(38,0))")).alias("zs"),
        F.sum((F.col("mx") == 0).cast("long")).alias("v_zero"),
    )
    c2 = _alpha_m2_pow90(b)
    raw = F.lit(c2) / F.col("zs").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(raw)
    return agg.select(
        F.round(est, 4).alias("estimate"), F.col("v_zero")
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch (Cormode & Muthukrishnan 2005, public) — heavy-hitter
# counting with the same DataFrame-native mergeability story as HLL: the
# sketch is (row, col, cnt) counter cells, merging two sketches is
# groupBy(row, col).sum(cnt), and a point estimate is the MIN over the d
# hash rows. Everything is integer arithmetic on md5-derived columns, so
# cell values and estimates are exact under any partitioning — and the
# defining guarantee (estimate >= true count, overestimate bounded by
# collisions) is assertable per key.
# ---------------------------------------------------------------------------


def _cms_col_sql(key_sql: str, row: int, width: int) -> str:
    """Hash row ``row``: an independent md5 per row (the key salted with
    ``#row``), first 8 hex chars, reduced mod ``width`` by the caller —
    the same text runs in Spark (via conv) and DuckDB (via the 0x cast),
    value-identical."""
    return f"substr(md5(CAST({key_sql} AS STRING) || '#{row}'), 1, 8)"


def _cms_cells(df: DataFrame, key_col: str, depth: int, width: int):
    """All ``depth`` (row, col) cells per input row in ONE pass — an
    explode over an inline struct array, so the corpus scans once however
    deep the sketch is (a unioned per-row form would re-scan it ``depth``
    times)."""
    structs = ", ".join(
        f"named_struct('row', {r}, 'col',"
        f" CAST(conv({_cms_col_sql(key_col, r, width)}, 16, 10)"
        f" AS BIGINT) % {width})"
        for r in range(depth)
    )
    return df.select(
        "*", F.explode(F.expr(f"array({structs})")).alias("_c")
    ).select(*df.columns, F.col("_c.row").alias("row"),
             F.col("_c.col").alias("col"))


def cms_counters(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """→ the mergeable sketch: ``(row, col, cnt)`` — one cell per touched
    (hash-row, bucket). One corpus pass, map-side combined; at most
    ``depth·width`` rows ever shuffle per partition regardless of input
    size."""
    return (
        _cms_cells(df.select(key_col), key_col, depth, width)
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query ``keys`` against the sketch: estimate = MIN over the
    ``depth`` cells the key hashes to. The probe side re-derives each
    key's (row, col) pairs in one pass and LEFT-joins the counter cells
    (an untouched cell counts 0 — an inner join would silently drop it
    and overestimate or lose never-seen keys); at scale the sketch is
    broadcast (``depth·width`` cells), so queries are map-only."""
    probes = _cms_cells(
        keys.select(F.col(key_col).alias("key")), "key", depth, width
    )
    return (
        probes.join(F.broadcast(counters), ["row", "col"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_count"))
    )
