"""Head-to-head: engine vs the reference's single-node execution shapes.

The reference computes everything in single-node pandas after Snowflake
fetches (SURVEY.md §3.2): per-row ``.apply`` for distance-to-coastline
(/root/reference/data_pipeline.py:45), per-entity resample loops
(data_pipeline.py:47-58), O(B^2) Python distance matrices
(cross_validators/block.py:76-83). This tool re-implements those SHAPES
faithfully (row-at-a-time pandas — not the reference's code, the same
asymptotics it documents) and times them against the engine's operators on
identical data, appending the comparison to BENCH/BASELINE.md.

Usage: python tools/reference_comparison.py [n_points]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geocore_spark.functions.geodesy import EARTH_RADIUS_KM
from geocore_spark.operators import knn as knn_mod
from geocore_spark.operators import nearest, temporal
from geocore_spark.session import get_spark

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000


def _points(n):
    rng = np.random.default_rng(3)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": rng.uniform(-55, 55, n),
            "lon": rng.uniform(-170, 170, n),
            "mmsi": rng.integers(0, max(n // 15000, 1) + 1, n),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 7 * 86400, n), unit="s"),
            "speed": rng.uniform(0, 20, n),
        }
    )


def ref_distance_to_coast(pdf: pd.DataFrame, seg_a, seg_b) -> pd.Series:
    """Reference shape: per-row Python over all segments
    (data_pipeline.py:45 ``.apply``: min distance to each geometry)."""

    def row_dist(row):
        best = np.inf
        for (ax, ay), (bx, by) in zip(seg_a, seg_b):
            abx, aby = bx - ax, by - ay
            ab2 = abx * abx + aby * aby or 1e-300
            t = max(0.0, min(1.0, ((row.lon - ax) * abx + (row.lat - ay) * aby) / ab2))
            dx, dy = row.lon - (ax + t * abx), row.lat - (ay + t * aby)
            d = (dx * dx + dy * dy) ** 0.5
            if d < best:
                best = d
        return best

    return pdf.apply(row_dist, axis=1)


def ref_window_agg(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference shape: per-entity loop + 1h resample + max-min
    (data_pipeline.py:47-58)."""
    frames = []
    for mmsi, sub in pdf.groupby("mmsi"):
        r = sub.set_index("ts").resample("1h")["speed"].agg(["max", "min", "count"])
        r = r[r["count"] > 0]
        r["change"] = r["max"] - r["min"]
        r["mmsi"] = mmsi
        frames.append(r.reset_index())
    return pd.concat(frames)


def ref_knn(pdf: pd.DataFrame, k=10) -> np.ndarray:
    """Reference shape: full O(B^2) distance matrix + argsort
    (block.py:76-83, 102-119)."""
    lat = np.radians(pdf["lat"].to_numpy())
    lon = np.radians(pdf["lon"].to_numpy())
    dlat = lat[:, None] - lat[None, :]
    dlon = lon[:, None] - lon[None, :]
    a = np.sin(dlat / 2) ** 2 + np.cos(lat)[:, None] * np.cos(lat)[None, :] * np.sin(dlon / 2) ** 2
    dm = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
    np.fill_diagonal(dm, np.inf)
    return np.argsort(dm, axis=1)[:, :k]


def main():
    spark = get_spark("refcmp", master="local[32]", shuffle_partitions=32)
    spark.range(100).count()
    pdf = _points(N)
    # engine reads columnar storage (its real input path); pandas gets the
    # in-memory frame (generous — no IO charged to the reference side)
    pts_path = f"/tmp/geocore_refcmp_{N}"
    spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(pts_path)
    sdf = spark.read.parquet(pts_path)
    coast = nearest.coastline_wkb()
    from geocore_spark.geometry.pip import wkb_segments

    seg_a, seg_b = wkb_segments([coast])

    results = []

    # 1. distance to coastline — reference on a 20k sample, extrapolated
    sample = pdf.head(20_000)
    t0 = time.time()
    ref_distance_to_coast(sample, seg_a.tolist(), seg_b.tolist())
    ref_rate = len(sample) / (time.time() - t0)
    eng = nearest.distance_to_layer(sdf, [coast])
    eng.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.time()
    eng.write.format("noop").mode("overwrite").save()
    eng_rate = N / (time.time() - t0)
    results.append(("distance-to-coastline (G6)", ref_rate, eng_rate))

    # 2. per-entity 1h window agg
    t0 = time.time()
    ref_window_agg(pdf)
    ref_rate = N / (time.time() - t0)
    agg = temporal.windowed_range_agg(sdf, "mmsi", "ts", "speed")
    agg.write.format("noop").mode("overwrite").save()
    t0 = time.time()
    agg.write.format("noop").mode("overwrite").save()
    eng_rate = N / (time.time() - t0)
    results.append(("1h window agg (A5)", ref_rate, eng_rate))

    # 3. kNN — reference O(N^2) matrix caps at 15k points
    kn = min(N, 15_000)
    kpdf = pdf.head(kn)
    t0 = time.time()
    ref_knn(kpdf)
    ref_rate = kn / (time.time() - t0)
    ksdf = spark.createDataFrame(kpdf)

    def eng_knn():
        # knn_join runs its convergence rounds while it builds the frame,
        # so the call is timed together with the write; res 5 / ring 2
        # converges every query of this point set in the first round
        kq = knn_mod.knn_join(ksdf, ksdf, k=10, res=5, k_ring=2)
        kq.write.format("noop").mode("overwrite").save()

    eng_knn()  # warm
    t0 = time.time()
    eng_knn()
    eng_rate = kn / (time.time() - t0)
    results.append(("kNN k=10 (W7)", ref_rate, eng_rate))

    lines = [
        "",
        "## Engine vs reference execution shape (single node, identical data)",
        "",
        f"Reference shapes re-implemented per SURVEY.md §3.2 (row-at-a-time",
        f"pandas apply, per-entity resample loop, O(N^2) distance matrix) and",
        f"timed on this machine against the engine operators; {N:,} points",
        "(reference capped where its asymptotics require).",
        "",
        "| operator | reference rows/s | engine rows/s | speedup |",
        "|---|---|---|---|",
    ]
    for name, r, e in results:
        lines.append(f"| {name} | {r:,.0f} | {e:,.0f} | {e / r:,.1f}x |")
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    for name, r, e in results:
        print(f"{name}: ref {r:,.0f}/s engine {e:,.0f}/s -> {e / r:.1f}x")


if __name__ == "__main__":
    main()
