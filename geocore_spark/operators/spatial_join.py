"""Spatial joins: point-in-polygon, distance theta-join, buffer anti-join.

The reference expresses every spatial association either as an equi-join on
the H3 cell string (G9 — /root/reference/modeling/datasets/build.py:95-109)
or as an un-keyed cross-join filtered by ST_DWITHIN (J4 —
build.py:170-176, the "bad_train" buffer). The second form is a full
cartesian product at scale; this module replaces it with the cell-bucketed
plan (cover cells -> equi-join -> exact refine) that stays shuffle-bounded:

  candidate generation:  O(points + layer_cover_cells)  [equi-join shuffle]
  refine:                O(candidate pairs)             [codegen'd filter]

At 100 TB the equi-join on cell ids is an AQE-planned shuffle join whose
key cardinality (#cells) is controllable via resolution; nothing ever
materializes |points| x |polygons|.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl
from geocore_spark.functions.geodesy import haversine_km
from geocore_spark.geometry import pip as pip_mod
from geocore_spark.geometry import wkb as wkb_mod


# ---------------------------------------------------------------------------
# Point-in-rectangle join (broadcast; exact, SQL-expressible)
# ---------------------------------------------------------------------------


def pip_rect_join(
    points: DataFrame,
    rects: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    how: str = "inner",
) -> DataFrame:
    """Join points to axis-aligned rectangles they fall inside.

    Rectangle layers are small dims -> broadcast nested-loop with a
    codegen'd range predicate; Catalyst turns this into
    BroadcastNestedLoopJoin with no shuffle of the big side at all.
    """
    cond = (
        (points[lat] >= rects["lat_min"])
        & (points[lat] < rects["lat_max"])
        & (points[lon] >= rects["lon_min"])
        & (points[lon] < rects["lon_max"])
    )
    return points.join(F.broadcast(rects), cond, how)


# ---------------------------------------------------------------------------
# Point-in-polygon join (cell cover + exact WKB refine)
# ---------------------------------------------------------------------------


def _segments_cross_cells(
    ring: np.ndarray, cx: np.ndarray, cy: np.ndarray, e: float, skip: np.ndarray
) -> np.ndarray:
    """Liang-Barsky clip: which cells [cx, cx+e) x [cy, cy+e) does any ring
    segment pass through? Vectorized over cells, loop over segments (ring
    vertex counts are small). ``skip`` marks cells already kept."""
    out = np.zeros(len(cx), dtype=bool)
    todo = ~skip
    if not todo.any():
        return out
    x0s, y0s = ring[:-1, 0], ring[:-1, 1]
    x1s, y1s = ring[1:, 0], ring[1:, 1]
    cxt, cyt = cx[todo], cy[todo]
    hit = np.zeros(len(cxt), dtype=bool)
    for x0, y0, x1, y1 in zip(x0s, y0s, x1s, y1s):
        dx, dy = x1 - x0, y1 - y0
        t0 = np.zeros(len(cxt))
        t1 = np.ones(len(cxt))
        ok = np.ones(len(cxt), dtype=bool)
        for p, q_lo, q_hi in (
            (dx, cxt - x0, cxt + e - x0),
            (dy, cyt - y0, cyt + e - y0),
        ):
            if p == 0:
                ok &= (q_lo <= 0) & (q_hi >= 0)
            else:
                ta, tb = q_lo / p, q_hi / p
                lo = np.minimum(ta, tb)
                hi = np.maximum(ta, tb)
                t0 = np.maximum(t0, lo)
                t1 = np.minimum(t1, hi)
        hit |= ok & (t0 <= t1)
        if hit.all():
            break
    out[todo] = hit
    return out


def polygon_cover_cells(
    polygons_pdf: pd.DataFrame,
    res: int = tl.DEFAULT_RES,
    max_cover_cells: int = 2048,
) -> pd.DataFrame:
    """Driver-side cover table: (cell, polygon_id, full_flag, res).

    For each polygon: bbox cells at an adaptively chosen resolution — the
    finest res (<= ``res``) whose bbox cover stays under
    ``max_cover_cells`` — so a 5-degree fault polygon covers at a coarse
    res (small broadcast table) while a sub-cell lease polygon covers at
    ``res``. A cell whose 4 corners are all inside is ``full`` (no refine
    needed — the reference's polygon_to_cells role, G9); boundary cells
    need the exact test. Polygon layers are small (SURVEY §2.1 S2: 85 KB
    coastline), so this is cheap driver work; the result is broadcast.
    """
    out_cell, out_pid, out_full, out_res = [], [], [], []
    for _, row in polygons_pdf.iterrows():
        wkb = bytes(row["wkb"])
        lon0, lat0, lon1, lat1 = wkb_mod.polygon_bbox(wkb)
        r = res
        while r > 0:
            e = tl.edge_deg(r)
            n_est = (int((lat1 - lat0) / e) + 2) * (int((lon1 - lon0) / e) + 2)
            if n_est <= max_cover_cells:
                break
            r -= 1
        cells = tl.bbox_to_cells(lat0, lat1, lon0, lon1, r)
        if not cells:
            continue
        parts = np.array([c.split(":") for c in cells], dtype=np.int64)
        ix, iy = parts[:, 1], parts[:, 2]
        e = tl.edge_deg(r)
        cx = -180.0 + ix * e
        cy = -90.0 + iy * e
        # A cell is "full" only when all 4 corners are inside AND no ring
        # boundary touches the cell. The corner test alone is NOT enough
        # even for a single hole-free ring: a thin slit/spike can dip into
        # the cell interior without containing any corner, and an
        # undemoted full flag would skip the exact refine for points
        # inside the slit (silent false positives).
        gtype, polys = wkb_mod.decode(wkb)
        simple = gtype == "Polygon" and len(polys) == 1 and len(polys[0]) == 1
        all_in = np.full(len(cells), simple)
        any_corner = np.zeros(len(cells), dtype=bool)
        for dx in (0.0, 1.0):
            for dy in (0.0, 1.0):
                inside = pip_mod.points_in_wkb(cx + dx * e, cy + dy * e, wkb)
                all_in &= inside
                any_corner |= inside
        # boundary-touch test per cell: (b) a polygon vertex inside the
        # cell, or (c) a polygon edge crossing the cell rectangle. Serves
        # two purposes: it DEMOTES the full flag (above), and with (a)
        # corner-inside it prunes provably-disjoint cells from the
        # candidate join (bbox covers of rotated polygons are mostly such
        # corners — that part cuts refine work, not correctness).
        boundary = np.zeros(len(cells), dtype=bool)
        for rings in polys:
            for ring in rings:
                vx, vy = ring[:-1, 0], ring[:-1, 1]
                in_cell_x = (vx[None, :] >= cx[:, None]) & (vx[None, :] < (cx + e)[:, None])
                in_cell_y = (vy[None, :] >= cy[:, None]) & (vy[None, :] < (cy + e)[:, None])
                boundary |= (in_cell_x & in_cell_y).any(axis=1)
                boundary |= _segments_cross_cells(ring, cx, cy, e, skip=boundary)
        all_in &= ~boundary
        keep = any_corner | boundary
        out_cell.extend(np.asarray(cells, dtype=object)[keep])
        out_pid.extend([row["polygon_id"]] * int(keep.sum()))
        out_full.extend(bool(b) for b in all_in[keep])
        out_res.extend([r] * int(keep.sum()))
    return pd.DataFrame(
        {"cell": out_cell, "polygon_id": out_pid, "full": out_full, "res": out_res}
    )


_COVER_CACHE: OrderedDict[tuple, tuple] = OrderedDict()


def _cover_cached(spark, polygons: DataFrame, res: int):
    """Driver-side cover table + broadcast WKB map, cached per
    (layer plan semantic hash, res).

    Layers are reused across many joins in a session; without the cache
    every call pays the collect + cover construction + broadcast again
    (~1 s for a 24-polygon layer — pure fixed cost). semanticHash keys
    the *plan*, so a layer read from the same source hits; sources whose
    content changes under an identical plan must construct a fresh
    DataFrame (normal for parquet reads — new snapshot, new path).

    The key includes the SparkContext's applicationId so entries can never
    outlive their session (a broadcast created on a stopped context is
    unusable). Evicted entries UNPERSIST (not destroy) their broadcast:
    unpersist frees the executor copies but leaves the driver value
    rebroadcastable, so a still-pending DataFrame built from an earlier
    join keeps working if it executes after eviction; destroy() would
    fail those tasks with "Attempted to use Broadcast after destroy".
    """
    key = (spark.sparkContext.applicationId, polygons.semanticHash(), res)
    hit = _COVER_CACHE.get(key)
    if hit is not None:
        return hit
    poly_pdf = polygons.select("polygon_id", "wkb").toPandas()
    cover = polygon_cover_cells(poly_pdf, res)
    wkb_by_id = {int(r["polygon_id"]): bytes(r["wkb"]) for _, r in poly_pdf.iterrows()}
    bc = spark.sparkContext.broadcast(wkb_by_id)
    if len(_COVER_CACHE) >= 16:
        _, (_, old_bc) = _COVER_CACHE.popitem(last=False)
        try:
            old_bc.unpersist(blocking=False)
        except Exception:
            pass  # its session may already be gone
    _COVER_CACHE[key] = (cover, bc)
    return cover, bc


def pip_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = tl.DEFAULT_RES,
) -> DataFrame:
    """Exact point-in-polygon join via cell-cover + vectorized refine.

    Plan: points gain a cell id (pure Column arithmetic) -> equi-join with
    the broadcast cover table -> rows in ``full`` cells pass immediately;
    boundary-cell rows run the ray-cast refine inside an Arrow-batched
    pandas UDF against the (broadcast) WKB blobs. Replaces the reference's
    implicit cartesian ST_DWITHIN pattern (build.py:170-176) and its
    row-at-a-time shapely apply (data_pipeline.py:45).
    """
    spark = points.sparkSession
    cover, bc = _cover_cached(spark, polygons, res)

    @F.pandas_udf("boolean")
    def _refine(lat_s: pd.Series, lon_s: pd.Series, pid_s: pd.Series) -> pd.Series:
        lats = lat_s.to_numpy(float)
        lons = lon_s.to_numpy(float)
        pids = pid_s.to_numpy(np.int64)
        out = np.zeros(len(lats), dtype=bool)
        table = bc.value
        for pid in np.unique(pids):
            m = pids == pid
            out[m] = pip_mod.points_in_wkb(lons[m], lats[m], table[int(pid)])
        return pd.Series(out)

    # ONE equi-join for every cover resolution at once: each polygon
    # covers at exactly one res, so points explode to their cell id at
    # each distinct cover res (a handful) and join the broadcast cover on
    # (res, cell) — one scan of the points, one broadcast probe, instead
    # of a join + union pair per resolution. Full-interior cells pass
    # immediately; the exact refine runs in a single Arrow stage over the
    # (small) candidate set. At 100 TB the explode factor is the distinct
    # cover-res count (<= 4), applied before a broadcast join — no
    # shuffle of the big side.
    resolutions = sorted(int(r) for r in cover["res"].unique())
    cover_df = F.broadcast(
        spark.createDataFrame(
            cover[["res", "cell", "polygon_id", "full"]],
            "res int, cell string, polygon_id long, full boolean",
        )
    )
    pts = points.withColumn(
        "__rc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"),
                        tl.latlng_to_cell(F.col(lat), F.col(lon), r).alias("cell"),
                    )
                    for r in resolutions
                ]
            )
        ),
    )
    cand = pts.join(
        cover_df,
        (pts["__rc.res"] == cover_df["res"]) & (pts["__rc.cell"] == cover_df["cell"]),
        "inner",
    ).drop(cover_df["res"]).drop(cover_df["cell"])
    hits = cand.filter(
        F.col("full") | _refine(F.col(lat), F.col(lon), F.col("polygon_id"))
    ).drop("__rc", "full")
    return hits.join(F.broadcast(polygons.drop("wkb")), "polygon_id", "left")


# ---------------------------------------------------------------------------
# Distance theta-join + buffer anti-join (k-ring cover + haversine refine)
#
# ring_join is the one k-ring candidate generator: distance_join,
# buffer_anti_join, plans/rewrite.rewrite_dwithin and operators/knn use it.
# ---------------------------------------------------------------------------


def ring_plan(
    distance_km: float, res: int | None = None, max_abs_lat: float = 66.0
) -> tuple[int, int]:
    """(res, k) of the k-ring cover for a ``distance_km`` join.

    ``k`` comes from :func:`tl.rings_for_km`. Without a caller ``res`` the
    finest res down to 3 whose ``k <= 2`` is picked, so each right row
    explodes to at most 25 cells. The cover is a superset of the pairs only
    for data within ``max_abs_lat``; :func:`within_band` enforces that.
    """
    fixed = res is not None
    res = tl.DEFAULT_RES if res is None else res
    while True:
        k = tl.rings_for_km(distance_km, res, max_abs_lat)
        if fixed or res <= 3 or k <= 2:
            return res, k
        res -= 1


def within_band(df: DataFrame, lat: str, max_abs_lat: float) -> DataFrame:
    """``df`` with a row check that raises when ``|lat| > max_abs_lat``.

    A plan filter (no extra job): the query fails at execution instead of
    returning a cover that silently misses pairs. NULL latitudes pass.
    """
    over = F.abs(F.col(lat)) > F.lit(float(max_abs_lat))
    msg = (
        f"|{lat}| above max_abs_lat={max_abs_lat}: the k-ring cover would "
        "miss pairs; pass a max_abs_lat that bounds the data"
    )
    return df.filter(F.when(over, F.raise_error(F.lit(msg))).otherwise(F.lit(True)))


def ring_join(
    left: DataFrame,
    right: DataFrame,
    left_lat: str,
    left_lon: str,
    right_lat: str,
    right_lon: str,
    res: int,
    k: int,
) -> DataFrame:
    """Every (left, right) pair whose res-``res`` cells are within ``k``
    rings: right rows explode to their ``grid_disk`` cover, then one
    equi-join on the cell id. Output is left's columns then right's; the
    caller refines the candidates.
    """
    cell = tl.latlng_to_cell(F.col(left_lat), F.col(left_lon), res)
    cover = tl.grid_disk(tl.latlng_to_cell(F.col(right_lat), F.col(right_lon), res), k)
    return (
        left.withColumn("__ring_cell", cell)
        .join(
            right.withColumn("__ring_cover", F.explode(cover)),
            F.col("__ring_cell") == F.col("__ring_cover"),
            "inner",
        )
        .drop("__ring_cell", "__ring_cover")
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    distance_km: float,
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """All (left, right) pairs within ``distance_km`` great-circle km.

    The reference's J4 (LEFT JOIN ... WHERE ST_DWITHIN with *no ON clause*,
    build.py:170-176) done scalably: :func:`ring_join` on the
    :func:`ring_plan` cover, then an exact haversine refine. Columns from
    ``right`` come back suffixed ``_r``. A row of either side with
    ``|lat| > max_abs_lat`` makes the query raise (:func:`within_band`).
    """
    res, k = ring_plan(distance_km, res, max_abs_lat)
    right_r = right.select(*[F.col(c).alias(f"{c}_r") for c in right.columns])
    joined = ring_join(
        within_band(left, lat, max_abs_lat),
        within_band(right_r, f"{lat}_r", max_abs_lat),
        lat, lon, f"{lat}_r", f"{lon}_r", res, k,
    )
    return joined.filter(
        haversine_km(F.col(lat), F.col(lon), F.col(f"{lat}_r"), F.col(f"{lon}_r"))
        <= F.lit(distance_km)
    )


def buffer_anti_join(
    left: DataFrame,
    right: DataFrame,
    distance_km: float,
    lat: str = "lat",
    lon: str = "lon",
    res: int | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """Rows of ``left`` farther than ``distance_km`` from EVERY right row.

    The spatial train/test separation (G8/J3): the reference marks train
    cells near test cells via the cross-join ST_DWITHIN then null-masks
    (build.py:165-177,201); here it is a left-anti join against the
    distance-join candidates — same semantics, no cartesian.

    ``max_abs_lat`` forwards to distance_join's cover sizing; a row of
    either side above it makes the query raise, since an undersized cover
    would RETAIN rows that are within the buffer. The anti-join condition
    is NULL-SAFE on every left column: plain equality would never match a
    row carrying a NULL attribute, silently keeping it no matter how close
    it sits to a right row.
    """
    near = distance_join(
        left, right, distance_km, lat, lon, res, max_abs_lat=max_abs_lat
    ).select(*[F.col(c) for c in left.columns]).dropDuplicates(left.columns)
    cond = None
    for c in left.columns:
        eq = left[c].eqNullSafe(near[c])
        cond = eq if cond is None else (cond & eq)
    return left.join(near, on=cond, how="left_anti")
