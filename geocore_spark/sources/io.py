"""Source/sink helpers: vector-layer ingest, table lifecycle (S2-S10).

The reference's IO surface maps here as:

- shapefile scan (gpd.read_file, /root/reference/data_pipeline.py:33) ->
  :func:`read_vector_layer` — geopandas when importable, else WKB parquet
  written by :func:`write_vector_layer`;
- CTAS / temp tables (base.py:74-76, build.py:239-245) ->
  :func:`materialize` (parquet-backed named table + catalog view) and
  plain ``createOrReplaceTempView``;
- catalog ops (table-exists/desc/drop, base.py:148-192) -> thin wrappers
  over ``spark.catalog``;
- bulk loads (write_pandas, actions/train.py:59-78; the row-VALUES insert
  anti-pattern at data_pipeline.py:88-93) -> ``spark.createDataFrame`` +
  parquet append, which removes the anti-pattern entirely.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

try:
    import geopandas as _gpd

    HAS_GEOPANDAS = True
except ImportError:
    _gpd = None
    HAS_GEOPANDAS = False


def _is_parquet_dir(path: str) -> bool:
    """A local directory counts as a parquet layer only when it looks
    like one (_SUCCESS marker or part files) — a bare isdir() check
    misrouted ESRI shapefile DIRECTORIES (layer.shp/.dbf/.shx) to
    spark.read.parquet, which fails instead of using geopandas."""
    if not os.path.isdir(path):
        return False
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return True
    try:
        names = os.listdir(path)
    except OSError:
        return False
    return any(n.endswith(".parquet") or n.startswith("part-") for n in names)


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for ``path`` through the Hadoop FS API —
    the one lookup every driver-side file operation goes through, so
    file://, hdfs:// and s3a:// roots take the same code path."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API: driver-local
    os.path.exists is always False for s3a://... / hdfs://... roots,
    which silently turned mode='ignore' into recompute-and-overwrite."""
    fs, p, _ = _fs(spark, path)
    return bool(fs.exists(p))


def read_vector_layer(spark: SparkSession, path: str) -> DataFrame:
    """Vector layer -> (geom_id long, wkb binary, attrs...) DataFrame.

    Shapefile/GeoJSON via geopandas when available; ``.parquet`` layers
    (written by :func:`write_vector_layer`) always work. Layers are small
    broadcast-side inputs (85 KB coastline in the reference), so the
    driver-side read is fine.
    """
    if path.endswith(".parquet") or _is_parquet_dir(path):
        return spark.read.parquet(path)
    if not HAS_GEOPANDAS:
        raise ImportError(
            "geopandas not installed; convert the layer to WKB parquet with "
            "write_vector_layer() on a machine that has it"
        )
    gdf = _gpd.read_file(path)
    # real vector layers routinely carry features with a MISSING geometry
    # (geopandas renders them as None) — a bare g.wkb would abort the
    # whole layer read with AttributeError. Drop them, loudly.
    missing = [g is None for g in gdf.geometry]
    if any(missing):
        import warnings

        warnings.warn(
            f"read_vector_layer: dropping {sum(missing)} feature(s) with "
            f"missing geometry from {path}"
        )
        gdf = gdf[[not m for m in missing]].reset_index(drop=True)
    pdf = pd.DataFrame(
        {
            "geom_id": np.arange(len(gdf), dtype=np.int64),
            "wkb": [g.wkb for g in gdf.geometry],
        }
    )
    for col in gdf.columns:
        if col != "geometry":
            pdf[col] = gdf[col].to_numpy()
    return spark.createDataFrame(pdf)


def write_vector_layer(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def materialize(
    df: DataFrame, name: str, root: str, mode: str = "ignore"
) -> DataFrame:
    """CTAS analogue: persist once under <root>/<name>, register as a view.

    ``mode='ignore'`` matches CREATE TABLE IF NOT EXISTS (base.py:74-76):
    an existing table is reused, not recomputed. On an Iceberg cluster
    this is ``df.writeTo(name).createOrReplace()``.
    """
    path = os.path.join(root, name)
    exists = _hadoop_path_exists(df.sparkSession, os.path.join(path, "_SUCCESS"))
    if not exists or mode == "overwrite":
        df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    out.createOrReplaceTempView(name)
    return out


def table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def describe(df: DataFrame) -> list[tuple[str, str]]:
    """desc-table analogue (base.py:176-192): (column, type) pairs."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def drop_table(spark: SparkSession, name: str, root: str | None = None) -> None:
    # dropTempView returns False when `name` is a CATALOG table (e.g.
    # written by write_bucketed's saveAsTable) — fall through to DROP
    # TABLE so the call doesn't silently no-op with files left behind
    if not spark.catalog.dropTempView(name):
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    if root is not None:
        import shutil

        shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def write_bucketed(
    df: DataFrame, name: str, bucket_col: str, n_buckets: int = 128
) -> None:
    """Persist a table bucketed (and sorted) by the join key.

    The 100 TB co-location backbone (SCALE.md): two tables bucketed by
    the same column and count join WITHOUT any shuffle exchange — the
    scans come up pre-hashed, and the reference's N-way cell-keyed
    assembly (J1/J2/J5) becomes storage-partitioned. The shuffle-free
    plan is pinned in tests (ShuffleExchange count == 0, both scans
    ``Bucketed: true``). Uses the session catalog — on a cluster this is
    a metastore/Iceberg table, locally the warehouse dir.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(name)
    )
