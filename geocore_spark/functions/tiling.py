"""Cell-index tiling — the engine's core abstraction.

The reference keys every feature/label layer on an H3 cell-id string
(``H3_BLOCKS``; /root/reference/modeling/datasets/base.py:25-56,
/root/reference/modeling/datasets/test_data.py:15 uses
``H3_LATLNG_TO_CELL_STRING(lat, lon, 8)``). Its operators never depend on
hexagon geometry — only on the *index contract*:

  encode(lat, lon, res) -> cell          (G1)
  cell -> centroid lat/lon               (G2, base for G7 distance joins)
  cell -> resolution                     (G3, uniformity gate build.py:330-341)
  cell -> parent                         (blockCV rollup)
  ring_offsets(res, k)                   (k-ring covers for distance/kNN joins)
  bbox -> covering (ix, iy) cells        (PIP join candidate generation)

This module implements that contract with a **pure-arithmetic equal-angle
quadtree grid** ("geocell"): at resolution r the world is a 2^(r+1) x 2^r
grid of (180/2^r)-degree squares. Resolution 13 (~2.4 km at the equator) is
the default, matching H3 res-7 cell size (~5.2 km^2, the north-rule
resolution; the reference's Ingenious data uses H3 res 8,
test_data.py:15).

Why not hexagons: the real ``h3`` library is not importable in this
environment, and a faithful from-scratch icosahedral aperture-7 index is a
re-implementation risk with zero operator-semantics payoff. The square grid
keeps EVERY downstream operator identical *and* turns encoding into a pure
Catalyst Column expression — whole-stage-codegen'd JVM arithmetic, no UDF,
no Arrow transfer — which at 100 TB is strictly faster than any H3 UDF. When
``h3`` IS importable, :mod:`geocore_spark.functions.h3compat` provides the
same API over real H3 cells via Arrow-batched pandas UDFs.

Cell id forms:
- string ``"r:ix:iy"`` (decimal) — mirrors the reference's string ids and is
  reproducible in ANSI SQL for the DuckDB oracle. This module is the only
  engine module that formats (:func:`format_cell`, :func:`cell_strings`)
  or parses (:func:`cell_parts`) it; ``oracle.py`` holds the SQL twins;
- packed int64 ``(r << 56) | (ix << 28) | iy`` (:func:`pack_cell`; 28 bits
  each side supports res <= 26) — the join key of the spatial joins: the
  k-ring candidates of ``spatial_join.ring_join`` (distance, buffer-anti,
  rewritten ST_DWITHIN and kNN joins) and the point-in-polygon cover are
  bigint equi-joins, with no string built per row.

Everything here returns Column expressions; ``numpy`` mirrors for tests and
driver-side geometry live in :func:`np_encode` etc.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_RES = 13  # ~2.4 km squares — H3 res-7-equivalent (north rule)
KM_PER_DEG = 111.195  # great-circle km per degree on the mean earth radius


def edge_deg(res: int) -> float:
    """Cell edge in degrees at resolution ``res``."""
    return 180.0 / (1 << res)


def ncols(res: int) -> int:
    return 2 << res


def nrows(res: int) -> int:
    return 1 << res


# ---------------------------------------------------------------------------
# Column-expression kernels (JVM-side, codegen'd — the hot path)
# ---------------------------------------------------------------------------


def cell_ix(lon: Column, res: int = DEFAULT_RES) -> Column:
    """Column index of a longitude. Finite out-of-range values clamp to
    the edge column (so lon=180.0 stays in range — deliberate); NULL and
    NaN propagate as NULL. Without the guard, least/greatest SKIP nulls
    and floor(NaN) casts to 0, so every bad-coordinate row silently
    encoded to the valid corner cell — one phantom hot cell at (-90,-180)
    corrupting rollups, k-ring joins and kNN."""
    e = edge_deg(res)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(e)).cast("long")
    clamped = F.least(F.greatest(ix, F.lit(0)), F.lit(ncols(res) - 1))
    # isNotNull is explicit: Spark isnan(NULL) is FALSE, not NULL
    return F.when(lon.isNotNull() & ~F.isnan(lon.cast("double")), clamped)


def cell_iy(lat: Column, res: int = DEFAULT_RES) -> Column:
    e = edge_deg(res)
    iy = F.floor((lat + F.lit(90.0)) / F.lit(e)).cast("long")
    clamped = F.least(F.greatest(iy, F.lit(0)), F.lit(nrows(res) - 1))
    return F.when(lat.isNotNull() & ~F.isnan(lat.cast("double")), clamped)


def latlng_to_cell(lat: Column, lon: Column, res: int = DEFAULT_RES) -> Column:
    """lat/lon -> cell-id string "r:ix:iy" (G1; role of H3_LATLNG_TO_CELL_STRING).

    NULL when either coordinate is NULL/NaN — guarded explicitly because
    concat_ws SKIPS null arguments (a null ix would otherwise yield a
    malformed two-part id, not NULL)."""
    ix, iy = cell_ix(lon, res), cell_iy(lat, res)
    return F.when(ix.isNotNull() & iy.isNotNull(), format_cell(res, ix, iy))


def format_cell(res: int, ix: Column, iy: Column) -> Column:
    """Cell-id string ``"res:ix:iy"`` from bigint index Columns. concat_ws
    skips NULL arguments, so callers guard NULL indices themselves."""
    return F.concat_ws(":", F.lit(res), ix, iy)


_RES_SHIFT, _IX_SHIFT = 56, 28  # the packed int64 layout: res | ix | iy


def pack_cell(res: int, ix, iy):
    """Packed int64 cell id ``(res << 56) | (ix << 28) | iy``.

    The one definition of the bit layout. ``ix``/``iy`` may be ints,
    numpy int64 arrays or bigint Columns; a NULL index gives a NULL id.
    """
    return (res << _RES_SHIFT) + ix * (1 << _IX_SHIFT) + iy


def latlng_to_cell_long(lat: Column, lon: Column, res: int = DEFAULT_RES) -> Column:
    """lat/lon -> packed int64 cell id (join/shuffle-key form)."""
    return pack_cell(res, cell_ix(lon, res), cell_iy(lat, res))


def ring_offsets(res: int, k: int) -> list[tuple[int, int]]:
    """The ``(dx, dy)`` cell offsets of a Chebyshev k-ring at ``res``.

    ``dx`` is reduced modulo :func:`ncols`, so at a coarse res where
    ``2k + 1 > ncols`` the longitude wrap cannot alias two offsets to one
    column (each ring cell occurs once). ``dy`` is not wrapped: rows past
    a pole are dropped by the consumer.
    """
    dxs = sorted({dx % ncols(res) for dx in range(-k, k + 1)})
    return [(dx, dy) for dx in dxs for dy in range(-k, k + 1)]


def cell_parts(cell: Column) -> tuple[Column, Column, Column]:
    """(res int, ix bigint, iy bigint) Columns of a string cell id."""
    p = F.split(cell, ":")
    return (
        p.getItem(0).cast("int"),
        p.getItem(1).cast("long"),
        p.getItem(2).cast("long"),
    )


def cell_resolution(cell: Column) -> Column:
    """Resolution of a string cell id (G3; h3.h3_get_resolution analogue)."""
    return cell_parts(cell)[0]


def cell_to_latlng(cell: Column) -> Column:
    """cell -> struct(lat, lon) centroid (G2; H3_CELL_TO_POINT + ST_X/ST_Y)."""
    r, ix, iy = cell_parts(cell)
    e = F.lit(180.0) / F.pow(F.lit(2.0), r.cast("double"))
    lat = F.lit(-90.0) + (iy.cast("double") + F.lit(0.5)) * e
    lon = F.lit(-180.0) + (ix.cast("double") + F.lit(0.5)) * e
    return F.struct(lat.alias("lat"), lon.alias("lon"))


def cell_to_parent(cell: Column, parent_res: int) -> Column:
    """Coarsen a cell to ``parent_res`` (h3.cell_to_parent analogue).

    floor-divide both indices by 2^(r - parent_res); pure arithmetic.
    A cell already AT parent_res passes through; a cell COARSER than
    parent_res yields NULL (no parent exists upward) — unguarded, the
    negative exponent made shift 0 and the division aborted the whole
    stage with DIVIDE_BY_ZERO under ANSI mode.
    """
    r, ix, iy = cell_parts(cell)
    shift = F.pow(F.lit(2.0), (r - F.lit(parent_res)).cast("double")).cast("long")
    coarsened = format_cell(parent_res, F.floor(ix / shift), F.floor(iy / shift))
    return F.when(r > F.lit(parent_res), coarsened).when(
        r == F.lit(parent_res), cell
    )


def rings_for_km(distance_km: float, res: int, max_abs_lat: float = 66.0) -> int:
    """Ring count k such that the k-ring of :func:`ring_offsets` around a
    cell covers every point within ``distance_km`` of the cell.

    Uses the narrowest cell width in the latitude band (cos shrinks
    east-west extent). ``spatial_join.ring_plan`` calls this to size the
    k-ring cover of the distance joins (G7); those joins raise on rows
    above ``max_abs_lat``, so callers with polar data pass their band.
    """
    width = edge_deg(res) * KM_PER_DEG * max(np.cos(np.radians(max_abs_lat)), 1e-9)
    height = edge_deg(res) * KM_PER_DEG
    return int(np.ceil(distance_km / min(width, height)))


# ---------------------------------------------------------------------------
# numpy mirrors (tests, driver-side polygon covers)
# ---------------------------------------------------------------------------


def np_encode(lat: np.ndarray, lon: np.ndarray, res: int = DEFAULT_RES):
    """Vectorized numpy mirror of latlng_to_cell; returns (ix, iy) arrays."""
    e = edge_deg(res)
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / e).astype(np.int64), 0, ncols(res) - 1)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / e).astype(np.int64), 0, nrows(res) - 1)
    return ix, iy


def cell_strings(res: int, ix, iy) -> list[str]:
    """Cell-id strings ``"res:ix:iy"`` of integer index sequences."""
    return [f"{res}:{x}:{y}" for x, y in zip(ix, iy)]


def np_cell_strings(lat, lon, res: int = DEFAULT_RES) -> np.ndarray:
    return np.array(cell_strings(res, *np_encode(lat, lon, res)))


def np_centroid(ix: np.ndarray, iy: np.ndarray, res: int = DEFAULT_RES):
    e = edge_deg(res)
    return (-90.0 + (iy + 0.5) * e, -180.0 + (ix + 0.5) * e)


def bbox_to_cells(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float, res: int = DEFAULT_RES
) -> tuple[np.ndarray, np.ndarray]:
    """``(ix, iy)`` int64 arrays of every cell intersecting a bounding box,
    row by row (driver-side; polygon covers start from this then refine).
    Matches h3.polygon_to_cells' role (G9).

    ``lon_min > lon_max`` means the box crosses the antimeridian: the
    column range wraps (…, ncols-1, 0, …) — previously this silently
    returned an EMPTY cover, so a Pacific-region candidate join matched
    nothing."""
    if lat_min > lat_max:
        raise ValueError(f"bbox_to_cells: lat_min {lat_min} > lat_max {lat_max}")
    ix0, iy0 = np_encode(np.array([lat_min]), np.array([lon_min]), res)
    ix1, iy1 = np_encode(np.array([lat_max]), np.array([lon_max]), res)
    if lon_min > lon_max:  # antimeridian crossing: wrap the column range
        xs = np.concatenate(
            [np.arange(ix0[0], ncols(res)), np.arange(0, ix1[0] + 1)]
        )
    else:
        xs = np.arange(ix0[0], ix1[0] + 1)
    ys = np.arange(iy0[0], iy1[0] + 1)
    gx, gy = np.meshgrid(xs, ys)
    return gx.ravel(), gy.ravel()
