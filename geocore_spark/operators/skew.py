"""Skew machinery: salted two-phase aggregation + adaptive cell splitting.

North-rule requirement with no reference equivalent (the reference pushed
skew to Snowflake). Mega-cells — dense urban tiles holding orders of
magnitude more pages than the median cell — make a naive
``groupBy(cell)`` shuffle place one giant partition on one task.

Two complementary strategies:

1. **Salted two-phase aggregation** (algebraic aggs): shuffle key becomes
   (cell, salt) with salt = pmod(xxhash64(row-key), n); partial aggregates
   per salted key, then a second tiny shuffle re-combines per cell. The
   result is identical to the naive plan for integral aggregates
   (count/min/max and integer/decimal sums); DOUBLE sums/avgs regroup the
   summation order, so they agree only to ~1e-12 relative (the float
   partial-agg drift class documented in CLAUDE.md) — round or use
   decimal accumulation when comparing.

2. **Adaptive cell splitting** (holistic work, e.g. per-cell pandas UDFs):
   cells whose count exceeds a threshold are re-encoded from their
   coordinates at a finer resolution, processed, then re-parented with
   ``cell_to_parent`` — SURVEY §4.2.

AQE's skew-join splitting handles *join* skew automatically
(``spark.sql.adaptive.skewJoin.enabled`` set in the session factory);
these helpers cover aggregation skew, which AQE does not split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl


def salted_agg(
    df: DataFrame,
    key_col: str,
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-phase salted aggregation, result equal to df.groupBy(key)
    (exactly for integral aggregates; float sums to summation-order
    drift — see the module docstring).

    ``aggs`` maps output column -> (input column, fn) with fn in
    {count, sum, min, max, avg}; ``('*', 'count')`` counts rows, a named
    column counts its non-null values (SQL COUNT semantics). Phase 1
    groups on (key, salt); phase 2 merges partials per key. avg is
    decomposed into sum+count so the merge is exact.

    ``salt_source`` seeds the salt hash; pass a unique row id when you
    have one. The default hashes ALL columns — DETERMINISTIC under task
    retry, which the previous monotonically_increasing_id default was
    not (a retried map task would re-id its rows, re-routing them across
    reduce partitions mid-shuffle and silently corrupting counts — the
    classic nondeterministic-shuffle-key hazard). The trade: fully
    identical rows share a salt, so a mega-key consisting of BYTE-EQUAL
    duplicate rows still lands on one salt.
    """
    if salt_source is not None:
        salt_in = [salt_source]
    else:
        salt_in = [F.col(c) for c in df.columns]
    salt = F.pmod(F.xxhash64(*salt_in), F.lit(n_salts))
    partial_exprs = []
    final_exprs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"__p_{out}"))
            final_exprs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"__p_{out}"))
            final_exprs.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"__p_{out}"))
            final_exprs.append(F.max(f"__p_{out}").alias(out))
        elif fn == "avg":
            partial_exprs.append(F.sum(col).alias(f"__ps_{out}"))
            partial_exprs.append(F.count(col).alias(f"__pc_{out}"))
            final_exprs.append(
                (F.sum(f"__ps_{out}") / F.sum(f"__pc_{out}")).alias(out)
            )
        else:
            raise ValueError(f"unsupported agg fn: {fn}")
    phase1 = df.withColumn("__salt", salt).groupBy(key_col, "__salt").agg(*partial_exprs)
    return phase1.groupBy(key_col).agg(*final_exprs)


def find_mega_cells(
    df: DataFrame, cell_col: str = "cell", threshold: int = 100_000
) -> DataFrame:
    """Cells whose row count exceeds ``threshold`` (the split candidates)."""
    return (
        df.groupBy(cell_col).count().filter(F.col("count") > threshold).select(cell_col)
    )


def split_mega_cells(
    df: DataFrame,
    mega: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    cell_col: str = "cell",
    delta_res: int = 2,
    res: int = tl.DEFAULT_RES,
) -> DataFrame:
    """Re-key rows in mega-cells to children cells at res + delta_res.

    Adds ``work_cell``: the finer child for mega-cell rows, the original
    cell otherwise. Downstream per-cell work groups on ``work_cell``;
    results re-parent with :func:`tl.cell_to_parent` to the original key.
    The mega set is tiny -> broadcast flag join, no extra shuffle.

    ``res`` must be the resolution the frame is keyed at (the guard
    only splits rows whose cell is actually at ``res``, so a mismatched
    ``res`` means NO row splits — pass it explicitly for non-default
    keyed frames, e.g. zonal tables at res 5).
    """
    # distinct before the flag join: find_mega_cells is already
    # duplicate-free, but a user-built mega frame with repeated cells
    # would otherwise silently MULTIPLY the data rows of those cells
    # through the left join (the frame is tiny — distinct is free)
    flagged = df.join(
        F.broadcast(
            mega.select(cell_col).distinct().withColumn("__mega", F.lit(True))
        ),
        cell_col,
        "left",
    )
    res_of = tl.cell_resolution(F.col(cell_col))
    # arithmetic re-encode at finer res from raw coordinates
    finer = tl.latlng_to_cell(F.col(lat), F.col(lon), res + delta_res)
    return flagged.withColumn(
        "work_cell",
        F.when(F.col("__mega").isNotNull() & (res_of == res), finer).otherwise(
            F.col(cell_col)
        ),
    ).drop("__mega")


def reparent(work_cell: str = "work_cell", res: int = tl.DEFAULT_RES) -> Column:
    """Column mapping work_cell back to its original-resolution parent."""
    r = tl.cell_resolution(F.col(work_cell))
    return F.when(r > res, tl.cell_to_parent(F.col(work_cell), res)).otherwise(
        F.col(work_cell)
    )
