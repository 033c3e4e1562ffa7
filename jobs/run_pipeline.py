"""End-to-end GeoCore-style pipeline as a spark-submit job.

Deployment shape per the north rule:

    zip -r engine.zip geocore_spark
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --pages 2000000 --checkpoint-root /tmp/geocore_ckpt [--resume]

Stages (each one a checkpointed snapshot; a relaunch with --resume skips
committed stages — SURVEY.md §7 stage 10):

  1. ingest    : synthesize/load the pages table
  2. geotag    : extract coordinates (JVM regexp) + html->text (Arrow UDF)
  3. tile      : geocell res-13 string + S2 level-12 long ids
  4. pip       : point-in-polygon join against the fault/lease layer
  5. features  : per-cell assembly (counts, zonal raster sample, test flag)
  6. curate    : text dedup + quality gate -> per-cell lang distribution

Every stage records its output row count (observed on the stage's own
checkpoint write), wall seconds and resume flag in
<checkpoint-root>/metrics.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geocore_spark.functions import s2, text as tx, tiling as tl
from geocore_spark.operators import assembly, spatial_join, zonal
from geocore_spark.plans.checkpoint import StageCheckpoint
from geocore_spark.plans.lineage import LineageLog
from geocore_spark.session import get_spark
from geocore_spark.sources import pages as pg
from geocore_spark.sources import polygons as pgn


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--checkpoint-root", default="/tmp/geocore_ckpt")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--res", type=int, default=tl.DEFAULT_RES)
    ap.add_argument(
        "--min-quality",
        type=float,
        default=0.05,
        help="curate-stage quality gate; the synthetic pages' extracted "
        "text is short (~57 chars, q~0.057) so the default keeps the "
        "gate live without filtering everything — raise for real corpora",
    )
    ap.add_argument(
        "--publish-snapshot",
        action="store_true",
        help="publish the per-cell feature table through the snapshot "
        "commit log (sources/snapshots): each invocation commits one new "
        "atomic VERSION at <checkpoint-root>/published/features — "
        "consumers read a consistent snapshot while the pipeline "
        "re-publishes, old versions stay time-travelable until "
        "expire_snapshots. A leaf: nothing downstream reads it",
    )
    ap.add_argument(
        "--zorder",
        action="store_true",
        help="also publish the tiled point table Z-order-clustered "
        "(functions/layout) with a file-stats manifest (sources/stats) "
        "and report a sample box-prune — the serving-layout leg. A LEAF "
        "stage pair: nothing downstream reads it, so toggling it across "
        "--resume runs never invalidates other snapshots",
    )
    args = ap.parse_args(argv)

    spark = get_spark("geocore-pipeline")
    cp = StageCheckpoint(spark, args.checkpoint_root)
    if not args.resume:
        for stage in list(cp.stages()):
            cp.invalidate(stage)
    # stage identity is (name, params) — without this, `--resume --res 10`
    # would reuse tile/pip snapshots keyed at the OLD resolution and join
    # them against res-10 covers (mismatched keys, silently empty output),
    # and `--resume --pages N` would keep the old ingest. Same mechanism
    # as run_curation.py; invalidation cascades from the first divergence.
    configured_chain = [
        ("ingest", {"pages": args.pages}),
        ("geotag", {}),
        ("tile", {"res": args.res}),
        ("pip", {"res": args.res}),
        ("features", {}),
        ("curate", {"min_quality": args.min_quality}),
    ]
    if args.zorder:
        configured_chain += [("layout", {"res": args.res}), ("layout_stats", {})]
    stale = cp.reconcile_chain(configured_chain)
    if stale:
        print(f"[resume] chain diverged; invalidated: {' '.join(stale)}", flush=True)
    log = LineageLog()
    t_start = time.time()

    # cascade-invalidation resume (the run_curation pattern): once any
    # stage rebuilds, every later snapshot is stale by definition
    upstream_rebuilt = False

    def staged(name, build):
        nonlocal upstream_rebuilt
        t0 = time.time()
        if upstream_rebuilt and cp.is_done(name):
            cp.invalidate(name)
        was_done = cp.is_done(name)
        df = cp.run(name, build)
        if not was_done:
            upstream_rebuilt = True
        rows = cp.stages()[name]["rows"]
        log.record(
            name,
            rows=rows,
            seconds=round(time.time() - t0, 2),
            resumed=was_done,
        )
        print(f"[stage {name}] rows={rows} resumed={was_done}", flush=True)
        return df

    pages = staged("ingest", lambda: pg.pages(spark, args.pages))

    def build_geotag():
        hs = F.decode("html", "UTF-8")
        g = tx.geo_latlon(hs)
        return pages.select(
            "url",
            "warc_ts",
            "lang",
            tx.extract_text_udf()(F.col("html")).alias("text"),
            g["lat"].alias("lat"),
            g["lon"].alias("lon"),
        ).filter(F.col("lat").isNotNull())

    geotagged = staged("geotag", build_geotag)

    def build_tile():
        return geotagged.select(
            "url",
            "warc_ts",
            "lat",
            "lon",
            tl.latlng_to_cell(F.col("lat"), F.col("lon"), args.res).alias("cell"),
            s2.s2_cell_udf(12)(F.col("lat"), F.col("lon")).alias("s2_cell"),
        )

    tiled = staged("tile", build_tile)

    def build_pip():
        polys = pgn.polygon_layer(spark, 24)
        return spatial_join.pip_polygon_join(tiled, polys, res=args.res).select(
            "url", "cell", "s2_cell", "polygon_id", "layer", "attr"
        )

    pip = staged("pip", build_pip)

    def build_features():
        cells = tiled.groupBy("cell").agg(F.count("*").alias("n_pages"))
        sampled = zonal.cell_centroid_samples(cells).withColumnRenamed(
            "value", "f_raster"
        )
        hits = pip.groupBy("cell").agg(
            F.count("*").alias("n_poly_hits"),
            F.count_distinct("polygon_id").alias("n_polygons"),
        )
        return assembly.join_features([sampled, hits]).na.fill(
            {"n_poly_hits": 0, "n_polygons": 0}
        )

    features = staged("features", build_features)

    def build_curate():
        # corpus-curation leg: extracted text -> exact dedup -> quality
        # gate -> language distribution per cell (the web-text twin of the
        # feature assembly above; same checkpoint/lineage treatment)
        from geocore_spark.operators import dedup as dd

        docs = geotagged.join(tiled.select("url", "cell"), "url", "inner").select(
            F.xxhash64("url").alias("doc_id"), "url", "text", "lang", "cell"
        )
        kept = dd.exact_dedup(docs, id_col="doc_id", text_col="text")
        quality = kept.withColumn("q", tx.quality_score(F.col("text"))).filter(
            F.col("q") >= args.min_quality
        )
        return quality.groupBy("cell", "lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )

    curated = staged("curate", build_curate)

    layout_prune = None
    if args.zorder:
        from geocore_spark.functions import layout
        from geocore_spark.sources import stats as st

        zres = min(args.res + 6, 30)
        n_files = spark.sparkContext.defaultParallelism * 2

        def build_layout():
            # checkpoint.run writes the returned plan, so the range
            # partition + in-partition sort land in the snapshot files
            return layout.zorder_layout(tiled, res=zres, n_files=n_files)

        staged("layout", build_layout)
        layout_dir = os.path.join(args.checkpoint_root, "layout")

        def build_layout_stats():
            return st.file_stats(spark, layout_dir, ["lat", "lon"])

        lstats = staged("layout_stats", build_layout_stats)
        # sample box-prune over the NYC mega-cell cluster: the measured
        # proof the published layout actually skips files
        _, rep = st.pruned_parquet(
            spark, layout_dir, lstats,
            {"lat": (40.0, 42.0), "lon": (-75.0, -73.0)},
        )
        layout_prune = {
            "files_total": rep.files_total,
            "files_read": rep.files_read,
            "rows_possible": rep.rows_possible,
        }
        log.record("layout_prune", **layout_prune)

    published_version = None
    if args.publish_snapshot:
        from geocore_spark.sources import snapshots as snap

        pub_root = os.path.join(args.checkpoint_root, "published", "features")
        if snap.latest_version(spark, pub_root) is None:
            pm = snap.create_table(spark, pub_root, features)
        else:
            pm = snap.overwrite(spark, pub_root, features)
        published_version = pm["version"]
        log.record(
            "publish", version=published_version, rows=pm["rows_changed"]
        )
        print(f"[stage publish] version={published_version}", flush=True)

    log.record("total", seconds=round(time.time() - t_start, 2))
    metrics_path = os.path.join(args.checkpoint_root, "metrics.json")
    with open(metrics_path, "w") as f:
        f.write(log.to_json())
    # counts come from the checkpoint manifest (Observation on the write
    # action) — re-running count() here would re-scan three stage
    # snapshots on every invocation, including pure --resume runs
    stage_rows = cp.stages()
    summary = {
        "feature_cells": stage_rows["features"]["rows"],
        "pip_hits": stage_rows["pip"]["rows"],
        "curated_groups": stage_rows["curate"]["rows"],
        "metrics": metrics_path,
        "seconds": round(time.time() - t_start, 2),
    }
    if layout_prune is not None:
        summary["layout_prune"] = layout_prune
    if published_version is not None:
        summary["published_version"] = published_version
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
