"""Workload ``spatial_join``: point-in-polygon, distance and kNN joins over
skewed points.

Input (seeded, built once before timing and cached in memory, so there is
no parquet scan): points in a few dense regions over a uniform
background, with a set share packed into one hot cell 0.005 deg wide; a
polygon layer from sub-cell to ~5 deg polygons; distance-join sites, a
few of them inside the hot cell; kNN query points drawn from the points.

One iteration: ``pip_polygon_join`` (points per polygon), then
``distance_join`` at a fixed buffer (pair count), then ``knn_join`` with
k=10 (all neighbours collected). Expected results are computed once
from the generated inputs by brute force in numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geocore_spark.functions import tiling
from geocore_spark.geometry import pip, wkb
from geocore_spark.operators import knn
from geocore_spark.operators import spatial_join as sj

N_POINTS = 40_000
HOT_SHARE = 0.05  # points inside the one hot cell
BACKGROUND_SHARE = 0.4
N_REGIONS = 6
N_POLYGONS = 24
N_SITES = 200
HOT_SITES = 3
N_CORPUS = 8_000  # kNN corpus: a sample of the dense points
N_QUERIES = 100
DISTANCE_KM = 5.0
K = 10
EARTH_RADIUS_KM = 6371.0088


def haversine_np(lat1, lon1, lat2, lon2):
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class Workload:
    name = "spatial_join"
    ITERATION_S = 4.0  # nominal wall of one warm iteration, 4 cores (see run.Loop.run)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.tr = spark, tracer
        rng = np.random.default_rng(seed)
        n = N_POINTS
        regions = np.column_stack([rng.uniform(-50, 50, N_REGIONS), rng.uniform(-170, 170, N_REGIONS)])
        hot = regions[0] + rng.uniform(-0.5, 0.5, 2)
        kind = rng.choice(3, n, p=[HOT_SHARE, BACKGROUND_SHARE, 1 - HOT_SHARE - BACKGROUND_SHARE])
        reg = rng.integers(0, N_REGIONS, n)
        lat = np.select(
            [kind == 0, kind == 1],
            [hot[0] + rng.random(n) * 0.005, rng.uniform(-60, 60, n)],
            regions[reg, 0] + rng.normal(0, 0.5, n),
        )
        lon = np.select(
            [kind == 0, kind == 1],
            [hot[1] + rng.random(n) * 0.005, rng.uniform(-180, 180, n)],
            regions[reg, 1] + rng.normal(0, 0.5, n),
        )
        lat = np.clip(lat, -65.0, 65.0)
        ids = np.arange(n, dtype=np.int64)
        parts = 2 * spark.sparkContext.defaultParallelism
        self.points = (
            spark.createDataFrame(pd.DataFrame({"id": ids, "lat": lat, "lon": lon}))
            .repartition(parts)
            .persist()
        )
        self.points.count()

        # sizes follow a fixed log schedule from sub-cell to ~5 deg; even
        # polygons sit on the dense regions, odd ones on the background,
        # polygon 0 on the hot cell
        radii = np.logspace(-1.8, 0.7, N_POLYGONS)
        radii[0] = 0.02
        polys = []
        for i in range(N_POLYGONS):
            if i == 0:
                c = hot + 0.0025
            elif i % 2 == 0:
                c = regions[(i // 2) % N_REGIONS] + rng.normal(0, 0.1, 2)
            else:
                c = np.array([rng.uniform(-55, 55), rng.uniform(-175, 175)])
            ang = np.linspace(0, 2 * np.pi, 4 + i % 5, endpoint=False) + rng.uniform(0, 1)
            ring = np.column_stack([c[1] + radii[i] * np.cos(ang), c[0] + radii[i] * np.sin(ang)])
            polys.append((i, f"layer{i % 2}", wkb.encode_polygon([ring]), float(rng.uniform(0, 100))))
        self.poly_pdf = pd.DataFrame(polys, columns=["polygon_id", "layer", "wkb", "attr"])
        self.polys = spark.createDataFrame(
            [(p[0], p[1], bytearray(p[2]), p[3]) for p in polys],
            "polygon_id long, layer string, wkb binary, attr double",
        )

        m = N_SITES
        site_lat = np.concatenate([
            hot[0] + rng.random(HOT_SITES) * 0.005,
            regions[rng.integers(0, N_REGIONS, m - HOT_SITES), 0] + rng.normal(0, 1.0, m - HOT_SITES),
        ])
        site_lon = np.concatenate([
            hot[1] + rng.random(HOT_SITES) * 0.005,
            regions[rng.integers(0, N_REGIONS, m - HOT_SITES), 1] + rng.normal(0, 1.0, m - HOT_SITES),
        ])
        site_lat = np.clip(site_lat, -65.0, 65.0)
        site_lon = np.clip(site_lon, -179.0, 179.0)
        self.sites = spark.createDataFrame(
            pd.DataFrame({"id": np.arange(m, dtype=np.int64), "lat": site_lat, "lon": site_lon})
        )
        # kNN runs over the dense points (regions and hot cell). Queries
        # come from the hot cell and the region cores (1.5 sigma), where
        # the first ring always holds k neighbours: a query in a sparse
        # tail would add ring-expansion rounds on some seeds only
        cids = np.sort(rng.choice(np.flatnonzero(kind != 1), N_CORPUS, replace=False))
        core = (kind[cids] == 0) | (
            np.hypot(lat[cids] - regions[reg[cids], 0], lon[cids] - regions[reg[cids], 1]) < 0.75
        )
        qids = np.sort(rng.choice(cids[core], N_QUERIES, replace=False))
        self.corpus, self.queries = (
            spark.createDataFrame(pd.DataFrame({"id": i, "lat": lat[i], "lon": lon[i]}))
            for i in (cids, qids)
        )

        # -- expected results (brute force over the generated arrays) --------
        self.want_pip = {}
        for pid, _, blob, _ in polys:
            x0, y0, x1, y1 = wkb.polygon_bbox(blob)
            box = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
            hits = int(pip.points_in_wkb(lon[box], lat[box], blob).sum())
            if hits:
                self.want_pip[pid] = hits
        order = np.argsort(lat)
        slat = lat[order]
        dlat = DISTANCE_KM / 111.0 + 1e-6
        lo_n = hi_n = 0
        s_ids = s_sites = 0
        for j in range(m):
            a, b = np.searchsorted(slat, [site_lat[j] - dlat, site_lat[j] + dlat])
            cand = order[a:b]
            d = haversine_np(lat[cand], lon[cand], site_lat[j], site_lon[j])
            lo_n += int((d <= DISTANCE_KM - 1e-9).sum())
            within = d <= DISTANCE_KM + 1e-9
            hi_n += int(within.sum())
            s_ids += int(cand[within].sum())
            s_sites += int(within.sum()) * j
        self.want_pairs = (lo_n, hi_n, s_ids, s_sites)
        self.distance_candidates = _cover_pairs(lat, lon, site_lat, site_lon, DISTANCE_KM)
        self.want_knn = {}
        for q in qids:
            d = haversine_np(lat[q], lon[q], lat[cids], lon[cids])
            d[cids == q] = np.inf
            self.want_knn[int(q)] = np.sort(d[np.argpartition(d, K)[:K]])

        # the refine kernel's input: points falling in boundary (not full)
        # cover cells, batched per polygon, as the pip join refines them
        cover = sj.polygon_cover_cells(self.poly_pdf)
        parts = cover["cell"].str.split(":", expand=True).astype(np.int64).to_numpy()
        cover_keys = (parts[:, 1] << 32) + parts[:, 2]
        blobs = dict(zip(self.poly_pdf.polygon_id, self.poly_pdf.wkb))
        point_keys = {r: _cell_keys(lat, lon, r) for r in cover["res"].unique()}
        self.refine_batch = []
        self.full_candidates = 0
        for (pid, full, r), sub in cover.groupby(["polygon_id", "full", "res"]):
            idx = np.flatnonzero(np.isin(point_keys[r], cover_keys[sub.index.to_numpy()]))
            if full:
                self.full_candidates += len(idx)
            elif len(idx):
                self.refine_batch.append((lon[idx], lat[idx], blobs[pid]))

        self.input_rows = n
        self.sizes = {
            "points": n, "polygons": N_POLYGONS, "sites": m, "knn_corpus": N_CORPUS,
            "knn_queries": N_QUERIES,
            "hot_share": HOT_SHARE, "distance_km": DISTANCE_KM, "k": K,
        }

    # -- one iteration -------------------------------------------------------

    def prepare(self) -> None:
        """Inputs are fixed for the run; nothing to build per iteration."""

    def iterate(self):
        t = self.tr
        if t.enabled:  # the engine caches the cover per layer; time it directly
            t.call("operators.spatial_join.cover", sj.polygon_cover_cells, self.poly_pdf)
        per_poly = t.call(
            "operators.spatial_join.pip",
            lambda: sj.pip_polygon_join(self.points, self.polys).groupBy("polygon_id").count(),
        ).collect()
        if t.enabled:
            with t.span("geometry.points_in_wkb"):
                for lon, lat, blob in self.refine_batch:
                    pip.points_in_wkb(lon, lat, blob)
        pairs = t.call(
            "operators.spatial_join.distance_join",
            lambda: sj.distance_join(self.points, self.sites, DISTANCE_KM).agg(
                F.count("*").alias("n"), F.sum("id").alias("s_ids"), F.sum("id_r").alias("s_sites")
            ),
        ).first()
        neighbours = t.call("operators.knn", knn.knn_join, self.queries, self.corpus, k=K).collect()
        return per_poly, pairs, neighbours

    # -- output checks -------------------------------------------------------

    def check(self, result, full: bool) -> list[str]:
        per_poly, pairs, neighbours = result
        bad = []
        got = {r["polygon_id"]: r["count"] for r in per_poly}
        if got != self.want_pip:
            bad.append(f"pip counts differ on {len(set(got.items()) ^ set(self.want_pip.items()))} polygons")
        lo_n, hi_n, s_ids, s_sites = self.want_pairs
        if not lo_n <= pairs["n"] <= hi_n:
            bad.append(f"distance pairs {pairs['n']} outside brute force [{lo_n}, {hi_n}]")
        elif lo_n == hi_n and (pairs["s_ids"], pairs["s_sites"]) != (s_ids, s_sites):
            bad.append("distance pairs name other points than brute force")
        by_q: dict[int, list[float]] = {}
        for r in neighbours:
            by_q.setdefault(r["id"], []).append(r["dist_km"])
        if set(by_q) != set(self.want_knn):
            bad.append(f"knn answered {len(by_q)} of {len(self.want_knn)} queries")
        else:
            worst = max(
                float(np.max(np.abs(np.sort(v) - self.want_knn[q]))) if len(v) == K else np.inf
                for q, v in by_q.items()
            )
            if worst > 1e-6:
                bad.append(f"knn distances differ from brute-force top-{K} by {worst:g} km")
        return bad

    def final_check(self) -> list[str]:
        return []

    def counters(self, folded, tracer) -> dict:
        """Candidate and refine counts of the traced iterations."""
        pip_g = folded.get("operators.spatial_join.pip", {})
        cand = pip_g.get("join_rows", 0.0)
        hits = float(sum(self.want_pip.values()))
        refined = cand - self.full_candidates
        pairs = float(self.want_pairs[1])
        n_refine = sum(len(b[0]) for b in self.refine_batch)
        pip_s = tracer.by_name().get("geometry.points_in_wkb", [])
        return {
            "operators.spatial_join.pip.candidate_rows": cand,
            # candidates in full cells pass without the refine, all hits
            "operators.spatial_join.pip.hit_ratio": (hits - self.full_candidates) / refined
            if refined > 0 else 0.0,
            "geometry.points_in_wkb.points_per_s": n_refine / float(np.median(pip_s)) if pip_s else 0.0,
            "operators.spatial_join.distance_join.candidate_pairs": float(self.distance_candidates),
            "operators.spatial_join.distance_join.pair_ratio": pairs / self.distance_candidates
            if self.distance_candidates else 0.0,
            "operators.knn.candidate_pairs": folded.get("operators.knn", {}).get("join_rows", 0.0),
        }


def _cell_keys(lat, lon, res: int) -> np.ndarray:
    """``ix << 32 | iy`` of each point's cell on the engine's grid (edge
    180 / 2^res degrees)."""
    e = tiling.edge_deg(int(res))
    ix = np.clip(np.floor((lon + 180.0) / e).astype(np.int64), 0, tiling.ncols(int(res)) - 1)
    iy = np.clip(np.floor((lat + 90.0) / e).astype(np.int64), 0, tiling.nrows(int(res)) - 1)
    return (ix << 32) + iy


def _cover_pairs(lat, lon, site_lat, site_lon, km: float) -> int:
    """Candidate pairs of ``distance_join(points, sites, km)``: every
    site's k-ring of cells at the resolution the join picks, probed
    against the points' cells. The join fuses its haversine refine into
    the join condition, so the engine reports only the refined pairs;
    this replays its documented cover rule (``rings_for_km``)."""
    res = tiling.DEFAULT_RES
    while res > 3 and tiling.rings_for_km(km, res) > 2:
        res -= 1
    k = tiling.rings_for_km(km, res)
    keys, counts = np.unique(_cell_keys(lat, lon, res), return_counts=True)
    per_cell = dict(zip(keys.tolist(), counts.tolist()))
    return sum(
        per_cell.get(int(key) + (dx << 32) + dy, 0)
        for key in _cell_keys(site_lat, site_lon, res)
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
    )
