"""Distance-to-nearest-geometry (G6) — the distance-to-coastline operator.

The reference computes ``min(point.distance(g) for g in world.geometry)``
row-at-a-time in pandas (/root/reference/data_pipeline.py:45, "this will
take a moment"), in raw degree units against the 110m coastline. Here the
geometry layer is broadcast once and each Arrow batch runs the fully
vectorized point-to-segment kernel (geometry/pip.py) — O(batch x segments)
in numpy, ~1000x the reference's throughput per core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocore_spark.geometry import pip as pip_mod


# one broadcast per (applicationId, layer content) instead of one per
# CALL: repeated gate/bench invocations on the same coastline previously
# leaked a fresh broadcast each time for the life of the application
_BC_CACHE: dict[tuple, object] = {}


def _layer_broadcast(spark, wkb_layer: list[bytes]):
    import hashlib

    app = spark.sparkContext.applicationId
    key = (app, hashlib.sha1(b"\x00".join(wkb_layer)).hexdigest())
    for k in list(_BC_CACHE):
        if k[0] != app:  # stopped contexts: broadcasts died with them
            _BC_CACHE.pop(k)
    bc = _BC_CACHE.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast(pip_mod.wkb_segments(wkb_layer))
        _BC_CACHE[key] = bc
    return bc


def distance_to_layer(
    points: DataFrame,
    wkb_layer: list[bytes],
    lat: str = "lat",
    lon: str = "lon",
    out_col: str = "dist_deg",
) -> DataFrame:
    """Min degree-space distance from each point to any segment of the
    layer (matches the reference's shapely degree units)."""
    spark = points.sparkSession
    bc = _layer_broadcast(spark, wkb_layer)

    @F.pandas_udf("double")
    def _dist(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        a, b = bc.value
        d = pip_mod.point_segment_dist_deg(
            lon_s.to_numpy(float), lat_s.to_numpy(float), a, b
        )
        return pd.Series(np.round(d, 9))

    return points.withColumn(out_col, _dist(F.col(lat), F.col(lon)))


# Deterministic synthetic "coastline" polyline (role of ne_110m_coastline at
# /root/reference/data_pipeline.py:12,33): a fixed zig-zag across the
# mid-latitudes, shared bit-for-bit with the SQL oracle via literals.
COASTLINE_VERTICES: list[tuple[float, float]] = [
    (-150.0, -40.0), (-120.0, -10.0), (-90.0, 15.0), (-60.0, -5.0),
    (-30.0, 20.0), (0.0, 45.0), (30.0, 10.0), (60.0, -20.0),
    (90.0, 5.0), (120.0, 35.0), (150.0, -15.0),
]


def coastline_wkb() -> bytes:
    from geocore_spark.geometry import wkb as wkb_mod

    return wkb_mod.encode_linestring(np.array(COASTLINE_VERTICES))


def coastline_segments_sql() -> str:
    """Inline VALUES of the coastline segments for the DuckDB oracle."""
    rows = []
    for (x0, y0), (x1, y1) in zip(COASTLINE_VERTICES, COASTLINE_VERTICES[1:]):
        rows.append(f"({x0}, {y0}, {x1}, {y1})")
    return (
        "(SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS seg(ax, ay, bx, by))"
    )


def point_segment_dist_sql(lon: str, lat: str) -> str:
    """Planar point-to-segment distance, identical formula to the numpy
    kernel (clamped projection), for one segment row (ax, ay, bx, by).
    The greatest(..., 1e-300) mirrors the kernel's zero-length-segment
    guard (pip.py:73) — without it a degenerate segment divides by zero
    in the oracle while numpy returns the point-to-point distance."""
    ab2 = "greatest(((bx - ax) * (bx - ax) + (by - ay) * (by - ay)), 1e-300)"
    t = (
        f"least(greatest(((({lon}) - ax) * (bx - ax) + (({lat}) - ay) * (by - ay))"
        f" / {ab2}, 0.0), 1.0)"
    )
    dx = f"(({lon}) - (ax + {t} * (bx - ax)))"
    dy = f"(({lat}) - (ay + {t} * (by - ay)))"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"
