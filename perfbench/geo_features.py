"""Workload ``geo_features``: the dataset-build spine over a pages table.

Input (seeded, written once before timing): a pages parquet with the
``sources/pages`` schema (``url, warc_ts, html, text, lang``). A set
share of pages sits in three hot clusters 0.01 deg wide; a few pages
carry no geotag. Beside it: weighted label sources with conflicting
rows, held-out test cells and the test points that drive the train
buffer.

One iteration builds the cell-indexed feature matrix and writes it:
geotag -> res-13 tiling and S2 -> per-cell zonal aggregates and centroid
samples -> ``join_features`` over three cell layers -> ``merge_labels``
-> ``flag_test_cells`` -> ``mask_bad_train`` -> block-CV folds.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geocore_spark.functions import s2, text, tiling
from geocore_spark.operators import assembly, blockcv, zonal
from geocore_spark.sources import io as gio
from geocore_spark.sources import raster

N_PAGES = 12_000
HOT_SHARE = 0.3  # pages inside the three hot clusters
NO_GEO_SHARE = 0.05
RES = 13
BLOCK_RES = 7
BUFFER_KM = 5.0
N_FOLDS = 5
CITIES = [
    (40.71, -74.00), (51.51, -0.13), (35.68, 139.69), (48.86, 2.35),
    (-33.87, 151.21), (19.43, -99.13), (1.35, 103.82), (55.76, 37.62),
]


def np_cells(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Cell ids "res:ix:iy" of the engine's equal-angle grid, computed
    here from the grid's definition (edge 180 / 2^res degrees)."""
    e = 180.0 / (1 << res)
    ix = np.clip(np.floor((lon + 180.0) / e).astype(np.int64), 0, (2 << res) - 1)
    iy = np.clip(np.floor((lat + 90.0) / e).astype(np.int64), 0, (1 << res) - 1)
    return np.array([f"{res}:{x}:{y}" for x, y in zip(ix, iy)], dtype=object)


class Workload:
    name = "geo_features"
    ITERATION_S = 6.0  # nominal wall of one warm iteration, 4 cores (see run.Loop.run)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.tr = spark, tracer
        rng = np.random.default_rng(seed)
        n = N_PAGES
        hot = rng.random(n) < HOT_SHARE
        centers = np.array(CITIES)[rng.choice(len(CITIES), 3, replace=False)]
        which = rng.integers(0, 3, n)
        lat = np.where(hot, centers[which, 0] + rng.random(n) * 0.01, rng.uniform(-59.9, 59.9, n))
        lon = np.where(hot, centers[which, 1] + rng.random(n) * 0.01, rng.uniform(-179.9, 179.9, n))
        geo = rng.random(n) >= NO_GEO_SHARE
        lat_s = [f"{v:.5f}" for v in lat]
        lon_s = [f"{v:.5f}" for v in lon]
        ids = np.arange(n)
        html = [
            (
                "<html><head>"
                + (f'<meta name="geo.position" content="{la};{lo}"/>' if g else "")
                + f"<title>Page {i}</title></head><body><p>Crawl snapshot {i} "
                f"survey block {i * 13 % 997}.</p></body></html>"
            ).encode()
            for i, la, lo, g in zip(ids, lat_s, lon_s, geo)
        ]
        langs = np.array(["en", "en", "en", "de", "fr", "es", None], dtype=object)
        table = pa.table({
            "url": [f"https://host{i % 97}.example/p/{i}" for i in ids],
            "warc_ts": pa.array(
                pd.Timestamp("2025-01-01") + pd.to_timedelta(rng.integers(0, 7 * 86400, n), "s"),
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(html, pa.binary()),
            "text": [f"Page {i}\nCrawl snapshot {i}." for i in ids],
            "lang": langs[rng.integers(0, len(langs), n)],
        })
        self.pages_path = os.path.join(work, "pages")
        os.makedirs(self.pages_path)
        n_files = 8
        for k in range(n_files):
            pq.write_table(
                table.slice(k * n // n_files, (k + 1) * n // n_files - k * n // n_files),
                os.path.join(self.pages_path, f"part-{k:05d}.parquet"),
            )
        self.out_path = os.path.join(work, "features")

        # expected values from the generated coordinates (the strings the
        # html carries, parsed back), independent of the engine
        plat = np.array([float(s) for s in lat_s])[geo]
        plon = np.array([float(s) for s in lon_s])[geo]
        cells = np_cells(plat, plon, RES)
        uniq = np.unique(cells)
        self.n_geo = int(geo.sum())
        self.cells = set(uniq)

        # label sources: overlapping subsets of the cells (plus a few
        # cells with no pages), weights on a 0.001 grid so ties occur
        srcs = []
        for k, share in enumerate((0.6, 0.4, 0.3)):
            pick = uniq[rng.random(len(uniq)) < share]
            extra = np.array([f"{RES}:{x}:7" for x in rng.integers(0, 1000, 20)], dtype=object)
            c = np.concatenate([pick, extra])
            srcs.append(pd.DataFrame({
                "cell": c,
                "label": rng.integers(0, 2, len(c)).astype(np.int64),
                "weight": np.round(rng.random(len(c)), 3),
                "type": f"src{k}",
            }))
        self.label_dfs = [
            spark.createDataFrame(s, "cell string, label long, weight double, type string")
            for s in srcs
        ]
        allw = pd.concat(srcs).groupby("cell")["weight"].max()
        self.max_weight = allw[allw.index.isin(self.cells)]

        test = uniq[rng.random(len(uniq)) < 0.05]
        self.test_cells = set(test)
        self.test_cells_df = spark.createDataFrame(
            pd.DataFrame({"cell": np.concatenate([test, ["13:1:1"]])}), "cell string"
        )
        tp = pd.Series(test).str.split(":", expand=True).astype(np.int64)
        e = 180.0 / (1 << RES)
        self.test_points_df = spark.createDataFrame(
            pd.DataFrame({"lat": -90.0 + (tp[2] + 0.5) * e, "lon": -180.0 + (tp[1] + 0.5) * e}),
            "lat double, lon double",
        )
        self.input_rows = n
        self.sizes = {
            "pages": n, "geotagged": self.n_geo, "cells": len(uniq),
            "label_rows": int(sum(len(s) for s in srcs)), "test_cells": len(test),
            "hot_share": HOT_SHARE,
        }

    # -- one iteration -------------------------------------------------------

    def prepare(self) -> None:
        """Inputs are fixed for the run; nothing to build per iteration."""

    def iterate(self):
        t = self.tr
        pages = t.call(
            "sources.pages_scan", lambda: self.spark.read.parquet(self.pages_path).select("html")
        )
        tagged = t.call(
            "functions.geotag",
            lambda: pages.select(text.geo_latlon(F.decode("html", "UTF-8")).alias("g"))
            .select(F.col("g.lat").alias("lat"), F.col("g.lon").alias("lon"))
            .filter(F.col("lat").isNotNull()),
        )
        tiled = t.call(
            "functions.tile",
            lambda: tagged.withColumn("cell", tiling.latlng_to_cell(F.col("lat"), F.col("lon"), RES))
            .withColumn("block", tiling.cell_to_parent(F.col("cell"), BLOCK_RES)),
        )
        l_s2 = t.call(
            "functions.s2",
            lambda: tiled.withColumn("s2", s2.s2_cell_udf(RES)(F.col("lat"), F.col("lon")))
            .groupBy("cell", "block")
            .agg(F.count_distinct("s2").alias("n_s2")),
        )
        l_zonal = t.call(
            "operators.zonal",
            lambda: zonal.cell_centroid_samples(
                zonal.zonal_stats(
                    tiled.withColumn("value", raster.sample_expr(F.col("lat"), F.col("lon"))),
                    res=RES,
                )
            )
            .withColumnRenamed("value", "centroid_value")
            .withColumn("ctr", tiling.cell_to_latlng(F.col("cell")))
            .select("*", F.col("ctr.lat").alias("lat"), F.col("ctr.lon").alias("lon"))
            .drop("ctr"),
        )
        l_lab = t.call("operators.assembly.merge_labels", assembly.merge_labels, self.label_dfs)
        feats = t.call(
            "operators.assembly.join_features",
            assembly.join_features, [l_zonal, l_s2, l_lab],
        )
        flagged = t.call(
            "operators.assembly.flag_test_cells",
            assembly.flag_test_cells, feats, self.test_cells_df,
        )
        masked = t.call(
            "operators.assembly.mask_bad_train",
            assembly.mask_bad_train, flagged, self.test_points_df, BUFFER_KM,
        )
        summaries = t.call("operators.blockcv", blockcv.block_summaries, masked)
        folds = t.call("operators.blockcv", blockcv.fold_balanced, summaries, N_FOLDS)
        out = t.call("operators.blockcv", blockcv.apply_folds, masked, folds)
        with t.span("sources.io.write"):
            gio.write_vector_layer(out, self.out_path)
        return None

    # -- output checks -------------------------------------------------------

    def check(self, _result, full: bool) -> list[str]:
        out = self.spark.read.parquet(self.out_path)
        row = out.agg(
            F.count("*").alias("rows"),
            F.count_distinct("cell").alias("cells"),
            F.sum("n").alias("pages"),
            F.sum("is_test").alias("is_test"),
            F.count("weight").alias("labelled"),
            F.sum("weight").alias("weight"),
            F.count("fold").alias("folded"),
        ).first()
        bad = []
        if row["rows"] != len(self.cells) or row["cells"] != len(self.cells):
            bad.append(f"rows {row['rows']} / distinct cells {row['cells']} != {len(self.cells)} cells")
        if row["pages"] != self.n_geo:
            bad.append(f"zonal counts sum to {row['pages']}, {self.n_geo} pages are geotagged")
        want_test = len(self.cells & self.test_cells)
        if row["is_test"] != want_test:
            bad.append(f"is_test count {row['is_test']} != test-cell intersection {want_test}")
        if row["labelled"] != len(self.max_weight) or not np.isclose(
            row["weight"] or 0.0, float(self.max_weight.sum()), rtol=0, atol=1e-6
        ):
            bad.append("merged label weights differ from the groupBy max")
        if row["folded"] != len(self.cells):
            bad.append(f"{len(self.cells) - row['folded']} rows without a fold")
        if full and not bad:
            got = out.select("cell", "weight").toPandas().set_index("cell")["weight"].dropna()
            want = self.max_weight
            if set(got.index) != set(want.index) or (got[want.index] - want).abs().max() > 1e-9:
                bad.append("per-cell merged label weight differs from the groupBy max")
        return bad

    def final_check(self) -> list[str]:
        return []

    def counters(self, folded, tracer) -> dict:
        return {}
