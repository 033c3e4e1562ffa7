"""Spatial joins: point-in-polygon, distance theta-join, buffer anti-join.

The reference expresses every spatial association either as an equi-join on
the H3 cell string (G9 — /root/reference/modeling/datasets/build.py:95-109)
or as an un-keyed cross-join filtered by ST_DWITHIN (J4 —
build.py:170-176, the "bad_train" buffer). The second form is a full
cartesian product at scale; this module replaces it with the cell-bucketed
plan (cover cells -> equi-join -> exact refine) that stays shuffle-bounded:

  candidate generation:  O(points + layer_cover_cells)  [equi-join shuffle]
  refine:                O(candidate pairs)             [JVM Column filter]

Both candidate joins key on the packed int64 cell id
(:func:`tiling.pack_cell`): the point-in-polygon cover is one broadcast
bigint hash join, and the k-ring cover of the distance joins
(:func:`ring_join`) explodes a literal array of ring offsets, so the
candidate path runs codegen'd arithmetic with no lambda and no string id.

Every refine is a Column expression: haversine for the distance joins,
and for point-in-polygon a higher-order-function ray cast over the edges
each cover cell's latitude strip keeps, read from the layer's one cached
cover frame. No Python runs per row.

At 100 TB the equi-join on cell keys is an AQE-planned shuffle join whose
key cardinality (#cells) is controllable via resolution; nothing ever
materializes |points| x |polygons|.
"""

from __future__ import annotations

from collections import Counter, OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


_MAX_COVER_CELLS = 2048


def polygon_cover_cells(
    polygons_pdf: pd.DataFrame,
    res: int = tl.DEFAULT_RES,
    max_cover_cells: int = _MAX_COVER_CELLS,
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
    for pid, r, ix, iy, full in _cover(polygons_pdf, res, max_cover_cells):
        out_cell.extend(tl.cell_strings(r, ix, iy))
        out_pid.extend([pid] * len(ix))
        out_full.extend(bool(b) for b in full)
        out_res.extend([r] * len(ix))
    return pd.DataFrame(
        {"cell": out_cell, "polygon_id": out_pid, "full": out_full, "res": out_res}
    )


def _cover(polygons_pdf: pd.DataFrame, res: int, max_cover_cells: int = _MAX_COVER_CELLS):
    """Yield ``(polygon_id, res, ix, iy, full)`` per polygon: the cover
    cells of :func:`polygon_cover_cells` as int64 index arrays, with their
    full flags, without building a cell-id string."""
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
        ix, iy = tl.bbox_to_cells(lat0, lat1, lon0, lon1, r)
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
        all_in = np.full(len(ix), simple)
        any_corner = np.zeros(len(ix), dtype=bool)
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
        # Both tests use the cell widened by the encode margin: a part
        # lying wholly within it outside the cell still holds points that
        # encode into the cell. Widening only adds boundary cells and
        # demotes full flags, so the join stays exact.
        m = _encode_margin(e)
        bx, by, be = cx - m, cy - m, e + 2 * m
        boundary = np.zeros(len(ix), dtype=bool)
        for rings in polys:
            for ring in rings:
                vx, vy = ring[:-1, 0], ring[:-1, 1]
                in_cell_x = (vx[None, :] >= bx[:, None]) & (vx[None, :] < (bx + be)[:, None])
                in_cell_y = (vy[None, :] >= by[:, None]) & (vy[None, :] < (by + be)[:, None])
                boundary |= (in_cell_x & in_cell_y).any(axis=1)
                boundary |= _segments_cross_cells(ring, bx, by, be, skip=boundary)
        all_in &= ~boundary
        keep = any_corner | boundary
        yield row["polygon_id"], r, ix[keep], iy[keep], all_in[keep]


_RINGS_TYPE = (
    "array<struct<part:int, hole:boolean, x0:array<double>, y0:array<double>, "
    "x1:array<double>, y1:array<double>>>"
)


def _ring_edges(wkb: bytes) -> list[tuple]:
    """``(part, hole, x0, y0, x1, y1)`` per ring of a WKB Polygon or
    MultiPolygon, in WKB order (each part's shell, then its holes). An
    unclosed ring is closed virtually, as :func:`pip.points_in_ring` does."""
    out = []
    for part, rings in enumerate(wkb_mod.decode(wkb)[1]):
        for k, ring in enumerate(rings):
            ring = pip_mod.closed_ring(ring)
            out.append((part, k > 0, ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]))
    return out


def _strip_rings(edges: list[tuple], lo: float, hi: float) -> list[tuple]:
    """The ring entries of one boundary cover row: per ring, only the edges
    whose y-range meets the strip ``[lo, hi]``.

    Exact for every point whose latitude lies in the strip: a dropped edge
    has both ends above it or both below, so ``(y0 > y) != (y1 > y)`` is
    false and it never adds a crossing. A ring left with no edges has no
    crossing there, so it is dropped: a hole subtracts nothing and a shell
    rules out its whole part, holes included. Every kept ring has at least
    one edge.
    """
    out, shell_kept = [], False
    for part, hole, x0, y0, x1, y1 in edges:
        keep = (np.maximum(y0, y1) >= lo) & (np.minimum(y0, y1) <= hi)
        if not hole:
            shell_kept = bool(keep.any())
        if shell_kept and keep.any():
            out.append((
                part, hole,
                x0[keep].tolist(), y0[keep].tolist(), x1[keep].tolist(), y1[keep].tolist(),
            ))
    return out


def _encode_margin(e: float) -> float:
    """How far outside a cell of edge ``e`` deg a point can lie and still
    encode into it. :func:`tl.cell_iy` and :func:`tl.cell_ix` round
    ``(lat + 90) / e`` and ``(lon + 180) / e``, which moves a coordinate
    up to ~4e-14 deg across a cell edge, at any res; the margin is far
    wider than that."""
    return max(e * 1e-9, 1e-12)


def _strip_bounds(iy: int, res: int) -> tuple[float, float]:
    """Latitude strip ``[lo, hi]`` holding every point that encodes to row
    ``iy`` at ``res``: the row ``[cy, cy + e)`` widened by
    :func:`_encode_margin`. The grid's first and last rows are
    open-ended, since ``cell_iy`` clamps latitudes beyond the poles into
    them."""
    e = tl.edge_deg(res)
    cy = -90.0 + iy * e
    margin = _encode_margin(e)
    lo = -np.inf if iy == 0 else cy - margin
    hi = np.inf if iy == tl.nrows(res) - 1 else cy + e + margin
    return lo, hi


def _cover_frame(spark, polygons: DataFrame, res: int) -> tuple[DataFrame, list[int]]:
    """Build and persist the cover frame of a polygon layer, and the
    distinct cover resolutions.

    One row per cover cell: ``__cover_key`` (the cell's packed int64 id,
    :func:`tl.pack_cell`, which carries its res), ``polygon_id``,
    ``full``, ``rings`` and the layer's columns other than ``polygon_id``
    and ``wkb``. ``rings`` is NULL on full rows; on a boundary row it
    holds the polygon's rings cut to the cell's latitude strip
    (:func:`_strip_rings`). The layer is read
    once, by one collect; the first join that uses the frame fills it.
    """
    rows = polygons.collect()
    ids = [r["polygon_id"] for r in rows]
    dups = sorted(k for k, n in Counter(ids).items() if n > 1)
    if dups:
        raise ValueError(f"polygon layer has duplicate polygon_id values: {dups}")
    blobs = [bytes(r["wkb"]) for r in rows]
    attrs = [f for f in polygons.schema.fields if f.name not in ("polygon_id", "wkb")]
    values = {pid: tuple(r[f.name] for f in attrs) for pid, r in zip(ids, rows)}
    edges = {pid: _ring_edges(blob) for pid, blob in zip(ids, blobs)}
    strips = {}  # (polygon_id, iy) -> ring entries, shared by the cells of a row
    out, cover_res = [], set()
    for pid, r, ixs, iys, fulls in _cover(pd.DataFrame({"polygon_id": ids, "wkb": blobs}), res):
        pid = int(pid)
        for ix, iy, full in zip(ixs.tolist(), iys.tolist(), fulls.tolist()):
            rings = None
            if not full:
                if (pid, iy) not in strips:
                    strips[(pid, iy)] = _strip_rings(edges[pid], *_strip_bounds(iy, r))
                rings = strips[(pid, iy)]
            out.append((tl.pack_cell(r, ix, iy), pid, full, rings, *values[pid]))
            cover_res.add(r)
    schema = T.StructType(
        [
            T.StructField("__cover_key", T.LongType()),
            T.StructField("polygon_id", T.LongType()),
            T.StructField("full", T.BooleanType()),
            T.StructField("rings", T.DataType.fromDDL(_RINGS_TYPE)),
            *attrs,
        ]
    )
    frame = spark.createDataFrame(out, schema, verifySchema=False).persist()
    return frame, sorted(cover_res)


_COVER_CACHE: OrderedDict[tuple, tuple[DataFrame, list[int]]] = OrderedDict()
_COVER_CACHE_SIZE = 16


def _cover_cached(spark, polygons: DataFrame, res: int) -> tuple[DataFrame, list[int]]:
    """:func:`_cover_frame` of a layer, cached per (session, layer plan
    semantic hash, res), least recently used first out.

    Layers are reused across many joins in a session; the cache builds a
    layer's cover, its ring strips and its attribute columns once, in one
    persisted frame, and later calls neither collect nor scan the layer
    again. semanticHash keys the *plan*, so a layer read from the same
    source hits; sources whose content changes under an identical plan
    must construct a fresh DataFrame (normal for parquet reads — new
    snapshot, new path). A layer with a duplicated ``polygon_id`` raises
    ``ValueError``: its hits would be ambiguous.

    The key includes the SparkContext's applicationId, so an entry never
    outlives its session. An evicted entry's frame is unpersisted, which
    only drops its cached blocks: a join frame built from it earlier
    still runs, and recomputes the cover rows from the frame's plan.
    """
    key = (spark.sparkContext.applicationId, polygons.semanticHash(), res)
    hit = _COVER_CACHE.get(key)
    if hit is not None:
        _COVER_CACHE.move_to_end(key)
        return hit
    entry = _cover_frame(spark, polygons, res)
    if len(_COVER_CACHE) >= _COVER_CACHE_SIZE:
        _, (old, _) = _COVER_CACHE.popitem(last=False)
        try:
            old.unpersist(blocking=False)
        except Exception:
            pass  # its session may already be gone
    _COVER_CACHE[key] = entry
    return entry


def _inside(rings: Column, x: Column, y: Column) -> Column:
    """Column twin of :func:`pip.points_in_wkb` over a cover row's strip
    rings: true when (x, y) is inside the polygon.

    Per ring, an even-odd ray cast over its kept edges, with the same
    operations in the same order as :func:`pip.points_in_ring`; JVM and
    numpy doubles are both IEEE 754, so the two agree bit for bit. The
    division sits under ``when(crosses, …)``: a crossing edge is never
    horizontal, and ANSI mode raises DIVIDE_BY_ZERO on ``1.0d / 0.0d``.
    The rings fold in one pass, in WKB order: a shell opens a part, each
    hole removes itself from it, and the result is the OR over parts.
    """

    def ring_in(r: Column) -> Column:
        def step(acc: Column, i: Column) -> Column:
            x0, y0, x1, y1 = r["x0"][i], r["y0"][i], r["x1"][i], r["y1"][i]
            crosses = (y0 > y) != (y1 > y)
            xint = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
            return acc != F.when(crosses, x < xint).otherwise(F.lit(False))

        return F.aggregate(F.sequence(F.lit(0), F.size(r["x0"]) - 1), F.lit(False), step)

    def fold(acc: Column, r: Column) -> Column:
        v = ring_in(r)
        hole = F.struct(acc["done"].alias("done"), (acc["part"] & ~v).alias("part"))
        shell = F.struct((acc["done"] | acc["part"]).alias("done"), v.alias("part"))
        return F.when(r["hole"], hole).otherwise(shell)

    start = F.struct(F.lit(False).alias("done"), F.lit(False).alias("part"))
    return F.aggregate(rings, start, fold, lambda acc: acc["done"] | acc["part"])


def pip_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    res: int = tl.DEFAULT_RES,
) -> DataFrame:
    """Exact point-in-polygon join via cell cover + JVM ray-cast refine.

    ``polygons`` has ``polygon_id`` (unique), ``wkb`` and any attribute
    columns. Output: ``polygon_id``, the point columns, then the layer's
    attribute columns, one row per (point, containing polygon).

    Plan: points gain a packed int64 cell id per cover res (pure Column
    arithmetic) -> bigint equi-join with the layer's broadcast cover frame
    (:func:`_cover_cached`) -> rows in ``full`` cells pass at once;
    boundary rows run :func:`_inside`, a higher-order-function ray cast
    over the edges of the row's latitude strip, so a candidate costs the
    edges in its strip, not the ring size.
    No Python runs per row. Replaces the reference's implicit cartesian
    ST_DWITHIN pattern (build.py:170-176) and its row-at-a-time shapely
    apply (data_pipeline.py:45).
    """
    cover_df, resolutions = _cover_cached(points.sparkSession, polygons, res)
    cover_df = F.broadcast(cover_df)

    # ONE equi-join for every cover resolution at once: each polygon
    # covers at exactly one res, so points explode to their packed cell id
    # at each distinct cover res (a handful; the id carries its res) and
    # probe the broadcast cover on that one bigint — one scan of the
    # points, one broadcast probe, instead of a join + union pair per
    # resolution. At 100 TB the explode factor is the distinct cover-res
    # count (<= 4), applied before a broadcast join — no shuffle of the
    # big side.
    pts = points.withColumn(
        "__key",
        F.explode(
            F.array(*[tl.latlng_to_cell_long(F.col(lat), F.col(lon), r) for r in resolutions])
        ),
    )
    cand = pts.join(cover_df, pts["__key"] == cover_df["__cover_key"], "inner")
    attrs = [c for c in polygons.columns if c not in ("polygon_id", "wkb")]
    return cand.filter(
        cover_df["full"] | _inside(cover_df["rings"], pts[lon], pts[lat])
    ).select(
        cover_df["polygon_id"],
        *[pts[c] for c in points.columns],
        *[cover_df[c] for c in attrs],
    )


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
    rings. Output is left's columns then right's; the caller refines the
    candidates.

    Each right row explodes to its k-ring: the driver-side
    :func:`tl.ring_offsets` list is one literal array, so the explode is
    a codegen'd generator with no per-row lambda or string. Ring cells
    past a pole are filtered out, the column wraps with ``pmod``, and
    both sides meet in one equi-join on the packed int64 cell id
    (:func:`tl.pack_cell`). A NULL or NaN coordinate gives a NULL key,
    which matches nothing.
    """
    ncol, nrow = tl.ncols(res), tl.nrows(res)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("__ring_dx"), F.lit(dy).alias("__ring_dy"))
            for dx, dy in tl.ring_offsets(res, k)
        ]
    )
    ix, iy = F.col("__ring_ix"), F.col("__ring_iy") + F.col("__ring_dy")
    cover = (
        right.select(
            "*",
            tl.cell_ix(F.col(right_lon), res).alias("__ring_ix"),
            tl.cell_iy(F.col(right_lat), res).alias("__ring_iy"),
        )
        .select("*", F.inline(offsets))
        .filter((iy >= 0) & (iy < nrow))
        .withColumn(
            "__ring_key", tl.pack_cell(res, F.pmod(ix + F.col("__ring_dx"), F.lit(ncol)), iy)
        )
        .drop("__ring_ix", "__ring_iy", "__ring_dx", "__ring_dy")
    )
    key = tl.latlng_to_cell_long(F.col(left_lat), F.col(left_lon), res)
    return (
        left.withColumn("__ring_cell", key)
        .join(cover, F.col("__ring_cell") == F.col("__ring_key"), "inner")
        .drop("__ring_cell", "__ring_key")
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
