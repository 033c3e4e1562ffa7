"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "pages_per_sec": ...,
   "parallelism": N, "steal_share": <host steal / all CPU jiffies>}

The flagship throughput number (``pages_per_sec``) is the geotag ->
tile -> aggregate pipeline over a synthetic pages table sized ~20x the
sf's lineitem rows — the BASELINE.json metric shape. Run
``tools/scaling_bench.py`` for the N-vs-4N parallelism evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as em
from geocore_spark.functions import text as tx
from geocore_spark.functions import tiling as tl
from geocore_spark.operators import dedup, knn, spatial_join, zonal
from geocore_spark.session import get_spark
from geocore_spark.sources import pages as pg
from geocore_spark.sources import polygons as pgn
from tools.harness import StealWatch

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sink(df):
    """Force full materialization without driver collect."""
    df.write.format("noop").mode("overwrite").save()


PAGES_CACHE = os.environ.get("SPARK_GRAFT_PAGES_CACHE", "/tmp/geocore_bench_pages")


def _pages_parquet(spark, n_pages: int) -> str:
    """Materialize the synthetic pages table once; benches then measure
    the realistic path (columnar read -> extract -> tile), matching
    BENCH/BASELINE.md's flagship definition."""
    path = f"{PAGES_CACHE}_{n_pages}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pg.pages(spark, n_pages, partitions=128).drop(
            "lat_true", "lon_true"
        ).write.mode("overwrite").parquet(path)
    return path


def b_tile_pipeline(spark, sf_dir, n_pages):
    """Flagship: read pages parquet -> geotag extract (JVM regexp) ->
    tile -> per-cell counts. Pure Column pipeline, zero Python."""
    df = spark.read.parquet(_pages_parquet(spark, n_pages))
    tagged = (
        df.withColumn("hs", F.decode("html", "UTF-8"))
        .withColumn("g", tx.geo_latlon(F.col("hs")))
        .withColumn("lat", F.col("g.lat"))
        .withColumn("lon", F.col("g.lon"))
        .withColumn("cell", tl.latlng_to_cell(F.col("lat"), F.col("lon"), 13))
    )
    _sink(
        tagged.groupBy("cell").agg(
            F.count("*").alias("n"), F.avg("lat").alias("mlat")
        )
    )


def b_pip_polygon(spark, sf_dir, n_pages):
    pts = em._event_points(spark, sf_dir)
    polys = pgn.polygon_layer(spark, 24)
    _sink(spatial_join.pip_polygon_join(pts, polys))


def b_distance_knn(spark, sf_dir, n_pages):
    pts = em._supplier_points(spark, sf_dir)
    # one ring round, then the exact fallback: the ~3% of queries it
    # leaves (sf0.1) sit at |lat| 50-60, the edge of the points' band,
    # where no wider ring's guaranteed radius reaches their 10th
    # neighbour, so expansion rounds would only add jobs
    _sink(knn.knn_join(pts, pts, k=10, res=4, k_ring=1, max_expansions=1))


def b_zonal(spark, sf_dir, n_pages):
    from geocore_spark.sources import raster as rst

    pts = em._event_points(spark, sf_dir)
    sampled = pts.withColumn("value", rst.sample_expr(F.col("lat"), F.col("lon")))
    _sink(zonal.zonal_stats(sampled, res=7))


def b_spatial_assembly(spark, sf_dir, n_pages):
    _sink(em.q_spatial_assembly(spark, sf_dir))


def b_window_join(spark, sf_dir, n_pages):
    _sink(em.q_hour_bucket_join(spark, sf_dir))


def b_pricing(spark, sf_dir, n_pages):
    _sink(em.q_pricing_summary(spark, sf_dir))


def b_dedup_minhash(spark, sf_dir, n_pages):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    _sink(dedup.minhash_lsh_pairs(d.unionByName(dup), threshold=0.5))


def b_embedding_topk(spark, sf_dir, n_pages):
    _sink(em.q_embedding_topk(spark, sf_dir))


# round-4 additions (VERDICT r3 item #5): three representative round-3
# analytics/graph operators enter the headline set so BENCH_r*.json
# tracks their wall time. New names start a fresh per-query merge epoch
# in tools/scaling_bench.py (the rename-on-widening rule).
def b_attribution(spark, sf_dir, n_pages):
    _sink(em.q_attribution(spark, sf_dir))


def b_rfm(spark, sf_dir, n_pages):
    _sink(em.q_rfm(spark, sf_dir))


def b_triangles(spark, sf_dir, n_pages):
    _sink(em.q_triangle_count(spark, sf_dir))


BENCHES = {
    "tile_pipeline": b_tile_pipeline,
    "pip_polygon": b_pip_polygon,
    "knn": b_distance_knn,
    "zonal": b_zonal,
    "spatial_assembly": b_spatial_assembly,
    "window_join": b_window_join,
    "pricing": b_pricing,
    "dedup_minhash": b_dedup_minhash,
    "embedding_topk": b_embedding_topk,
    "attribution": b_attribution,
    "rfm": b_rfm,
    "triangles": b_triangles,
}


def main():
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.0
    n_pages = max(int(sf_num * 20_000_000), 100_000)
    # host steal over the whole run: compare only runs with the same
    # parallelism and a low steal share
    steal = StealWatch()
    spark = get_spark("geocore-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    # warm the JVM/codegen paths AND the Arrow python-worker pool so
    # per-query times measure the plan, not process spin-up
    spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().collect()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 10_000, 1, CPUS).select(_warm(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()
    _pages_parquet(spark, n_pages)  # materialize outside the timed region

    # best-of-3: this sandbox VM shows intermittent multi-second host
    # stalls (same plan: 1.0-8.6 s across back-to-back runs); two repeats
    # are not enough to dodge a spike.
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "3"))
    times: dict[str, float] = {}
    for name, fn in BENCHES.items():
        best = float("inf")
        for _ in range(repeat):
            t0 = time.time()
            fn(spark, SF_DIR, n_pages)
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
    total = round(sum(times.values()), 3)
    # the round-4 additions (attribution/rfm/triangles) widened the
    # total; spatial_subtotal preserves comparability with the
    # pre-round-4 history band (CLAUDE.md's 9.21-10.74 s range)
    analytics_set = {"attribution", "rfm", "triangles"}
    spatial_subtotal = round(
        sum(v for k, v in times.items() if k not in analytics_set), 3
    )
    pages_per_sec = round(n_pages / times["tile_pipeline"], 1)
    print(
        json.dumps(
            {
                "metric": "headline query total wall (spatial set + r4 analytics set)",
                "value": total,
                "unit": "sec",
                "spatial_subtotal": spatial_subtotal,
                "queries": times,
                "sf": sf_num,
                "n_pages": n_pages,
                "pages_per_sec": pages_per_sec,
                "parallelism": CPUS,
                "steal_share": round(steal.share(), 4),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
