"""Z-order (Morton-curve) data layout: interleave the bits of two
quantized dimensions so that range-partitioning on the interleaved key
clusters files tightly in BOTH dimensions at once — the layout
optimizer behind Delta's OPTIMIZE ZORDER BY and ClickHouse's
`ORDER BY (a, b)` intuition, expressed as plain Spark expressions.

Why it matters at 100 TB: parquet readers prune row groups by min/max
stats. A linear sort on `ts` gives perfect ts-pruning but every file
spans ALL user_ids — a user-keyed predicate reads everything.
Z-ordering by (user_id, ts) makes BOTH mean per-file spans ~sqrt(1/N),
so a point predicate on either dimension skips most files. The honest
tradeoff (measured in tests/test_layout.py from the written parquet
footers): the combined bounding-box area is ~2x worse than linear
(curve segments straddle quad boundaries), so a workload that only
ever range-scans ONE dimension should keep the linear sort; z-order
is for mixed/point access on two keys.

Everything is integer arithmetic JVM-side: quantize each dimension to
`bits`-bit ranks against broadcast min/max bounds (exact `div`, never
float division — ranks must be reproducible), then fold the bit
interleave with a higher-order aggregate over [0, bits) — no UDF, one
pass, and the same formula replays in ANSI SQL for the oracle
(queries/layoutq.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clockpipe_spark.functions.sql import sql_ident

MORTON_BITS = 21  # 2 x 21 interleaved bits stay below 2^63


def quantize_expr(col: str, lo: str, hi: str, bits: int = MORTON_BITS) -> Column:
    """Rank column `col` into [0, 2^bits) against [lo, hi] bounds
    (inclusive, all three are column NAMES of integral columns):
    (v - lo) * (2^bits - 1) div (hi - lo); a degenerate single-value
    range maps to 0. Integer `div` end to end — float division would
    round above 2^53 and de-synchronize ranks between engines.
    Overflow bound: span * (2^bits - 1) must fit int64, so pre-scale
    micro-precision timestamps (e.g. div 1000) when the range exceeds
    ~70 days."""
    top = (1 << bits) - 1
    col, lo, hi = sql_ident(col), sql_ident(lo), sql_ident(hi)
    return F.expr(
        f"CASE WHEN {hi} <= {lo} THEN 0L"
        f" ELSE ({col} - {lo}) * {top}L div ({hi} - {lo}) END"
    )


def morton_interleave(xr: Column, yr: Column, bits: int = MORTON_BITS) -> Column:
    """Interleave the low `bits` bits of two non-negative ranks:
    bit i of x lands at position 2i, bit i of y at 2i+1. The bit count
    is static, so the fold unrolls at plan-build time into one flat
    sum of masked shifts — a single codegen'd expression, no UDF (and
    no HOF: shiftleft needs literal shift amounts)."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(xr, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(yr, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def zorder_repartition(
    df: DataFrame, xcol: str, ycol: str, n_files: int,
    bits: int = MORTON_BITS,
) -> DataFrame:
    """Cluster `df` into `n_files` range partitions of the Morton code
    of integral columns (xcol, ycol) — write the result with
    .write.parquet and every file's (x, y) bounding box is a
    near-square tile instead of a full-width stripe. Bounds come from
    a broadcast 1-row aggregate (one extra scan, no driver collect);
    the range partitioner then samples the code column as usual."""
    bounds = df.agg(
        F.min(xcol).alias("__xlo"),
        F.max(xcol).alias("__xhi"),
        F.min(ycol).alias("__ylo"),
        F.max(ycol).alias("__yhi"),
    )
    coded = df.crossJoin(F.broadcast(bounds)).withColumn(
        "__z",
        morton_interleave(
            quantize_expr(xcol, "__xlo", "__xhi", bits),
            quantize_expr(ycol, "__ylo", "__yhi", bits),
            bits,
        ),
    )
    return coded.repartitionByRange(n_files, "__z").drop(
        "__xlo", "__xhi", "__ylo", "__yhi", "__z"
    )
