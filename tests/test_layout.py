"""Z-order layout: measure (not assert-by-faith) that Morton
clustering shrinks per-file bounding boxes in BOTH dimensions at once.

The test writes the same events two ways — linear time-sort
(repartitionByRange on ts) and zorder_repartition on (user_id, ts) —
then reads the PARQUET FOOTER min/max stats per file, exactly what a
pruning reader sees. The honest claim is PER-DIMENSION: linear sort is
perfect on ts (1/N spans) but every file covers the FULL user range,
so a user-keyed predicate prunes nothing; z-order makes both mean
spans ~sqrt(1/N) — a point predicate on EITHER dimension skips most
files. (The area product is ~2x worse for z-order than linear —
curve-boundary straddling — which is the real tradeoff and why a
pure single-dim range workload should keep the linear sort.)"""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from clockpipe_spark.catalog import load_table
from clockpipe_spark.operators.layout import morton_interleave, zorder_repartition

_N_FILES = 16


def _mean_spans(path: str) -> tuple[float, float]:
    """Per-file (user span, ts span), each normalized by the global
    range, averaged across files — the fraction of each dimension a
    pruning reader cannot skip per file."""
    glob_files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(glob_files) >= _N_FILES // 2, glob_files
    lo_u = hi_u = lo_t = hi_t = None
    stats = []
    for f in glob_files:
        md = pq.ParquetFile(f).metadata
        fu_lo = fu_hi = ft_lo = ft_hi = None
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            cols = {
                row.column(i).path_in_schema: row.column(i).statistics
                for i in range(row.num_columns)
            }
            u, t = cols["user_id"], cols["tms"]
            fu_lo = u.min if fu_lo is None else min(fu_lo, u.min)
            fu_hi = u.max if fu_hi is None else max(fu_hi, u.max)
            ft_lo = t.min if ft_lo is None else min(ft_lo, t.min)
            ft_hi = t.max if ft_hi is None else max(ft_hi, t.max)
        stats.append((fu_lo, fu_hi, ft_lo, ft_hi))
        lo_u = fu_lo if lo_u is None else min(lo_u, fu_lo)
        hi_u = fu_hi if hi_u is None else max(hi_u, fu_hi)
        lo_t = ft_lo if lo_t is None else min(lo_t, ft_lo)
        hi_t = ft_hi if hi_t is None else max(hi_t, ft_hi)
    du = max(hi_u - lo_u, 1)
    dt = max(hi_t - lo_t, 1)
    uspans = [(fu_hi - fu_lo) / du for fu_lo, fu_hi, _, _ in stats]
    tspans = [(ft_hi - ft_lo) / dt for _, _, ft_lo, ft_hi in stats]
    return sum(uspans) / len(uspans), sum(tspans) / len(tspans)


def test_zorder_boxes_beat_linear_sort(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 1000L").alias("tms")
    )
    linear = str(tmp_path / "linear")
    events.repartitionByRange(_N_FILES, "tms").write.parquet(linear)
    zpath = str(tmp_path / "zorder")
    # x is named "u x": any legal column name, not only identifiers
    spaced = events.withColumnRenamed("user_id", "u x")
    zorder_repartition(spaced, "u x", "tms", _N_FILES).withColumnRenamed(
        "u x", "user_id"
    ).write.parquet(zpath)
    lin_u, lin_t = _mean_spans(linear)
    z_u, z_t = _mean_spans(zpath)
    # linear time-sort: perfect ts clustering but every file spans
    # ~the full user range -> user predicates prune nothing
    assert lin_t < 0.15, lin_t
    assert lin_u > 0.9, lin_u
    # z-order: BOTH dimensions clustered — a point predicate on either
    # dim skips most files (sqrt(1/N) ideal ~ 0.25 at N=16; allow
    # curve-boundary straddle up to 2x)
    assert z_u < 0.5, z_u
    assert z_t < 0.5, z_t


def test_morton_code_reference(spark):
    # pin the interleave against hand-computed values
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (5, 3)], "x long, y long"
    )
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton_interleave(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    # interleave(5=0b101, 3=0b011): x bits at even pos -> 1,0,1 at 0,2,4
    # = 0b010001; y bits at odd -> 1,1,0 at 1,3,5 = 0b001010 -> 0b011011=27
    assert out == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (5, 3): 27}
