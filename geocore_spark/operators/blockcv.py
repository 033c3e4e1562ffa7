"""Spatially-blocked cross-validation (BlockCV).

Re-expresses /root/reference/modeling/cross_validators/block.py, which
clusters block centroids with O(B^2) haversine agglomeration driver-side
(block.py:36-47,76-83) then greedily merges blocks into balanced folds
(block.py:86-126). At scale the expensive parts move into the engine:

- block assignment = parent-cell re-key (D1's documented approximation:
  ``cell_to_parent`` is a pure Column op; the reference itself notes the
  clustering exists only to group nearby cells);
- per-block summaries (centroid, count) = one groupBy (A6/A7);
- fold balancing stays a driver-side greedy pass over the per-block
  summary (D2 — tiny input: one row per block), deterministic given the
  seed ordering;
- the resulting (block -> fold) map broadcasts back as a join.

``fold_by_parity`` is the fully-arithmetic variant (fold = (ix + iy) %%
k on the block cell) used by the SQL oracle; ``fold_balanced`` is the
reference-faithful greedy one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocore_spark import oracle as orc
from geocore_spark.functions import tiling as tl


def with_blocks(
    points: DataFrame,
    block_res: int = 7,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Assign each point a spatial block id (coarse parent cell)."""
    return points.withColumn(
        "block", tl.latlng_to_cell(F.col(lat), F.col(lon), block_res)
    )


def block_summaries(blocked: DataFrame, lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Per-block centroid + size (block.py:58-66 groupby/transform)."""
    return blocked.groupBy("block").agg(
        F.count("*").alias("n"),
        F.round(F.avg(lat), 6).alias("centroid_lat"),
        F.round(F.avg(lon), 6).alias("centroid_lon"),
    )


def fold_parity_expr(block: Column, n_folds: int) -> Column:
    """Deterministic arithmetic fold id from the block cell indices —
    spatially striped (adjacent blocks land in different folds), exactly
    reproducible in ANSI SQL."""
    _, ix, iy = tl.cell_parts(block)
    return F.pmod(ix + iy, F.lit(n_folds)).cast("int")


def fold_parity_sql(block_sql: str, n_folds: int) -> str:
    _, ix, iy = orc.cell_parts_sql(block_sql)
    return f"CAST((({ix} + {iy}) % {n_folds} + {n_folds}) % {n_folds} AS INT)"


def fold_balanced(
    summaries: DataFrame, n_folds: int = 5, cap_factor: float = 1.1
) -> dict[str, int]:
    """Greedy balanced fold assignment over collected block summaries
    (port of block.py:86-126's grow-with-size-cap walk, simplified to a
    deterministic largest-first bin packing with the same 1.1x cap).

    Driver-side by design: input is one row per *block* (thousands at
    planetary scale), not per point.
    """
    rows = summaries.select("block", "n").collect()
    total = sum(r["n"] for r in rows)
    cap = cap_factor * total / n_folds
    loads = [0.0] * n_folds
    assignment: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: (-r["n"], r["block"])):
        fold = min(range(n_folds), key=lambda f: (loads[f], f))
        if loads[fold] + r["n"] > cap and loads[fold] > 0:
            fold = min(range(n_folds), key=lambda f: loads[f] + r["n"])
        loads[fold] += r["n"]
        assignment[r["block"]] = fold
    return assignment


def apply_folds(blocked: DataFrame, assignment: dict[str, int]) -> DataFrame:
    """Broadcast-join the (block -> fold) map back onto the points."""
    spark = blocked.sparkSession
    m = spark.createDataFrame(
        list(assignment.items()), "block string, fold int"
    )
    return blocked.join(F.broadcast(m), "block", "left")


def fold_split(df: DataFrame, fold: int):
    """(train, validation) for one fold — the reference's split() protocol
    (cross_validators/base.py:87-89) as filters on the fold column."""
    return df.filter(F.col("fold") != fold), df.filter(F.col("fold") == fold)
