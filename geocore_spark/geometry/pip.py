"""Vectorized point-in-polygon and point-to-geometry distance.

Replaces the reference's row-at-a-time shapely calls
(``point.distance(geom)`` applied per row, /root/reference/data_pipeline.py:45;
shapely ``contains`` implicit in its geopandas usage) with numpy kernels that
process a whole Arrow batch of points against a broadcast geometry layer —
the "no per-row Python" contract from BASELINE.json's input_hint.

PIP is even-odd ray casting (public algorithm); boundary points follow the
half-open edge rule so shared edges never double-count. The PIP kernel
serves the driver-side cover build (cell corner tests) and the tests, as
the oracle: the polygon join refines with its Column twin,
``operators/spatial_join._inside``, which runs the same operations in the
same order in the JVM.
"""

from __future__ import annotations

import numpy as np

from geocore_spark.geometry import wkb as wkb_mod


def closed_ring(ring: np.ndarray) -> np.ndarray:
    """``ring`` with its first vertex repeated at the end, when it is not.

    External WKB with an unclosed ring is malformed per spec but common in
    the wild: without the closing edge every point "inside via that edge"
    flips to outside."""
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        return np.vstack([ring, ring[:1]])
    return ring


def points_in_ring(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast: bool mask of points inside one closed ring.

    Vectorized over points; loops only over ring edges (small: polygon
    layers are broadcast-side and have tens-to-hundreds of vertices).
    """
    x = np.asarray(lon, float)
    y = np.asarray(lat, float)
    inside = np.zeros(x.shape, dtype=bool)
    ring = closed_ring(ring)
    x0 = ring[:-1, 0]
    y0 = ring[:-1, 1]
    x1 = ring[1:, 0]
    y1 = ring[1:, 1]
    for k in range(len(x0)):
        crosses = (y0[k] > y) != (y1[k] > y)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0[k] + (y - y0[k]) * (x1[k] - x0[k]) / (y1[k] - y0[k])
        inside ^= crosses & (x < xint)
    return inside


def points_in_wkb(lon: np.ndarray, lat: np.ndarray, wkb: bytes) -> np.ndarray:
    """Bool mask of points inside a WKB Polygon/MultiPolygon (holes honored)."""
    gtype, polys = wkb_mod.decode(wkb)
    if gtype == "LineString":
        raise ValueError("containment undefined for LineString")
    result = np.zeros(np.asarray(lon).shape, dtype=bool)
    for rings in polys:
        m = points_in_ring(lon, lat, rings[0])
        for hole in rings[1:]:
            m &= ~points_in_ring(lon, lat, hole)
        result |= m
    return result


def point_segment_dist_deg(
    lon: np.ndarray, lat: np.ndarray, seg_a: np.ndarray, seg_b: np.ndarray
) -> np.ndarray:
    """Min planar (degree-space) distance from each point to ANY segment.

    Mirrors the reference's ``point.distance(coastline)`` which shapely
    computes in raw degree units (/root/reference/data_pipeline.py:45 — the
    fork keeps degrees, noted in EDA). Points (n,), segments (m, 2) pairs.
    O(n*m) but fully vectorized; broadcast layers are small (85 KB coastline
    in the reference).
    """
    p = np.stack([np.asarray(lon, float), np.asarray(lat, float)], axis=1)  # (n,2)
    a = np.asarray(seg_a, float)  # (m,2)
    b = np.asarray(seg_b, float)
    ab = b - a  # (m,2)
    ab2 = (ab * ab).sum(axis=1)  # (m,)
    ab2 = np.where(ab2 == 0, 1e-300, ab2)
    # t = clamp(((p - a) . ab) / |ab|^2): (n, m)
    ap = p[:, None, :] - a[None, :, :]
    t = np.clip((ap * ab[None, :, :]).sum(axis=2) / ab2[None, :], 0.0, 1.0)
    closest = a[None, :, :] + t[:, :, None] * ab[None, :, :]
    d = np.sqrt(((p[:, None, :] - closest) ** 2).sum(axis=2))
    return d.min(axis=1)


def wkb_segments(wkbs: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a list of WKB geometries into segment endpoint arrays."""
    starts, ends = [], []
    for w in wkbs:
        _, polys = wkb_mod.decode(bytes(w))
        for rings in polys:
            for ring in rings:
                starts.append(ring[:-1])
                ends.append(ring[1:])
    return np.vstack(starts), np.vstack(ends)
