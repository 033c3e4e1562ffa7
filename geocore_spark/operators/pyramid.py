"""Tile-pyramid rollup: per-cell aggregates at EVERY zoom level, one scan.

The hypertable / map-tile continuous-rollup shape: dashboards and tile
servers need per-cell counts at a whole ladder of resolutions (zoom 5
through 13), and the naive way — one groupBy per level — scans the
point table L times. This operator quantizes ONCE at the finest level,
derives every coarser cell id by an integer shift of the (ix, iy)
indices, explodes the per-level array and aggregates in a single
shuffle with map-side partial aggregation.

Exactness: the grid edge at res r is a binary fraction and
edge(r) = edge(r_max) * 2^(r_max - r) exactly, so
``shiftright(ix_max, k)`` is bit-identical to re-quantizing at the
coarser res (scaling by a power of two commutes with IEEE rounding;
clamps compose the same way) — which is what lets the DuckDB twin
replay each level with the plain per-res quantizer.

Cost at 100 TB: explode factor = #levels (pre-shuffle, collapsed
map-side to the distinct-cell count per level); shuffle volume is the
sum of per-level distinct-cell counts — bounded by the grid, not the
row count, exactly like the single-level rollup (SCALE.md per-cell agg
row). The reference rolls cells up one parent at a time
(woodgilber/GeoCore modeling/datasets/build.py cell keying); the
pyramid is the batch form a tile-serving deployment materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocore_spark import oracle as orc
from geocore_spark.functions import tiling as tl


def tile_pyramid(
    points: DataFrame,
    res_min: int,
    res_max: int,
    lat: str = "lat",
    lon: str = "lon",
    value: str | None = None,
) -> DataFrame:
    """Per-cell rollup at every resolution in ``[res_min, res_max]``.

    Returns ``(cell, res, n_points[, sum_value])`` — one row per
    non-empty cell per level. Rows with NULL/NaN coordinates are
    dropped (they belong to no cell, matching ``latlng_to_cell``'s NULL
    contract). ``value``: optional column summed per cell alongside the
    count (sums are exact for integral/decimal types; double sums carry
    the usual partial-agg order caveat).
    """
    if not 0 <= res_min <= res_max:
        raise ValueError(f"need 0 <= res_min <= res_max, got {res_min}..{res_max}")
    la, lo = F.col(lat), F.col(lon)
    pts = points.filter(
        la.isNotNull() & lo.isNotNull() & ~F.isnan(la) & ~F.isnan(lo)
    )
    ix = tl.cell_ix(lo, res_max)
    iy = tl.cell_iy(la, res_max)
    cells = F.array(
        *[
            tl.format_cell(r, F.shiftright(ix, res_max - r), F.shiftright(iy, res_max - r))
            for r in range(res_min, res_max + 1)
        ]
    )
    keep = [F.col(value)] if value is not None else []
    exploded = pts.select(F.explode(cells).alias("cell"), *keep)
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value is not None:
        aggs.append(F.sum(value).alias(f"sum_{value}"))
    return exploded.groupBy("cell").agg(*aggs).select(
        "cell",
        tl.cell_resolution(F.col("cell")).alias("res"),
        *(["n_points"] + ([f"sum_{value}"] if value is not None else [])),
    )


def tile_pyramid_sql(
    from_clause: str,
    res_min: int,
    res_max: int,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin: one per-res quantizer SELECT per level, UNION ALL,
    then the same GROUP BY — value-identical to the shift derivation
    (see module docstring)."""
    levels = " UNION ALL ".join(
        f"SELECT {orc.cell_sql(lat, lon, r)} AS cell FROM {from_clause} "
        f"WHERE ({lat}) IS NOT NULL AND ({lon}) IS NOT NULL "
        f"AND NOT isnan({lat}) AND NOT isnan({lon})"
        for r in range(res_min, res_max + 1)
    )
    return (
        f"SELECT cell, {orc.cell_parts_sql('cell')[0]} AS res, "
        f"COUNT(*) AS n_points FROM ({levels}) GROUP BY 1, 2"
    )
