"""Feature/label assembly — the GeoCore dataset-build spine.

Re-expresses /root/reference/modeling/datasets/build.py as one Catalyst
plan instead of generated Snowflake SQL:

- N-way left-join feature assembly on the cell index (J1, build.py:46-109)
- label UNION-ALL + max-weight row_number dedup (U1/W1, build.py:249-283)
- held-out test flag via left join + conditional (J2, build.py:192-208)
- buffer-based label masking ("bad_train", J3/J4, build.py:165-213)
- train/application null split (P5, build.py:121-138)

Invariant guards mirror the reference's runtime data-quality gates
(BadTable uniqueness base.py:82-99; resolution consensus build.py:330-341;
meta-leak check utils/data.py:11-19).
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl
from geocore_spark.operators.spatial_join import distance_join
from geocore_spark.session import release_previous

META_COLUMNS = ("weight", "lat", "lon", "cell_center_lat", "cell_center_lon", "type")


class BadTable(Exception):
    """Port of the reference's BadTable gate (base.py:11-22)."""


def _check_layers(layers: list[DataFrame], index_col: str) -> None:
    """The BadTable gates in one Spark action: count(*) == count(distinct
    idx) per layer, so joins stay 1:1 (base.py:82-99), and one grid
    resolution over every row of every layer (build.py:330-341)."""
    res = tl.cell_resolution(F.col(index_col))
    aggs = [
        layer.agg(
            F.lit(i), F.count("*"), F.count_distinct(F.col(index_col)), F.min(res), F.max(res)
        )
        for i, layer in enumerate(layers)
    ]
    stats = sorted(tuple(r) for r in reduce(DataFrame.union, aggs).collect())
    for i, n, d, _, _ in stats:
        if n != d:
            raise BadTable(f"layer[{i}]: {n} rows but {d} distinct {index_col}")
    present = {v for r in stats for v in r[3:] if v is not None}
    if len(present) > 1:
        raise BadTable(f"mixed grid resolutions across layers: {sorted(present)}")


def assert_no_meta_leak(feature_cols: list[str]) -> None:
    """Meta columns must never enter the feature set (utils/data.py:11-19)."""
    leak = set(c.lower() for c in feature_cols) & set(META_COLUMNS)
    if leak:
        raise BadTable(f"meta columns leaked into features: {sorted(leak)}")


def join_features(layers: list[DataFrame], index_col: str = "cell") -> DataFrame:
    """N-way left join on the cell index; first layer anchors (J1).

    Like the reference, which materializes and gates every layer before
    its generated N LEFT JOINs (build.py:46-109), each layer not already
    cached is persisted MEMORY_AND_DISK (one row per cell), and one Spark
    action fills those caches and runs the BadTable gates. Later actions
    read the cached layers instead of re-running their sources, and
    downstream filters stop at the cache. The next call in this Spark
    application unpersists them. The fold is one Catalyst plan; AQE picks
    broadcast or sort-merge per join, and unique indexes keep it 1:1.
    """
    held = release_previous("join_features", layers[0].sparkSession)
    for layer in layers:
        if layer.storageLevel == StorageLevel.NONE:
            held.append(layer.persist(StorageLevel.MEMORY_AND_DISK))
    _check_layers(layers, index_col)
    return reduce(lambda a, b: a.join(b, on=index_col, how="left"), layers)


def merge_labels(label_sources: list[DataFrame]) -> DataFrame:
    """UNION ALL label sources, keep max-weight row per cell (U1 + W1).

    Contract per source: columns ⊇ {cell, label, weight, type}
    (base.py:208-220; merged schema build.py:250-257). Conflict
    resolution: highest weight wins; ties broken by label then type so the
    result is deterministic (the reference's ROW_NUMBER leaves ties
    warehouse-ordered — we pin them).
    """
    required = {"cell", "label", "weight", "type"}
    for i, src in enumerate(label_sources):
        missing = required - set(src.columns)
        if missing:
            raise BadTable(f"label source[{i}] missing {sorted(missing)}")
    unioned = reduce(
        DataFrame.unionByName,
        [s.select("cell", "label", "weight", "type") for s in label_sources],
    )
    w = Window.partitionBy("cell").orderBy(
        F.desc("weight"), F.desc("label"), F.asc("type")
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def flag_test_cells(df: DataFrame, test_cells: DataFrame, index_col: str = "cell") -> DataFrame:
    """IS_TEST = 1 iff the cell appears in any held-out set (J2).

    Left join + null-conditional, exactly the reference's
    ``iff(test.h3 is not null, 1, 0)`` (build.py:192-208). Test sets are
    tiny -> broadcast.
    """
    marked = test_cells.select(F.col(index_col)).distinct().withColumn("__t", F.lit(1))
    return (
        df.join(F.broadcast(marked), index_col, "left")
        .withColumn("is_test", F.when(F.col("__t").isNotNull(), 1).otherwise(0))
        .drop("__t")
    )


def mask_bad_train(
    df: DataFrame,
    test_points: DataFrame,
    buffer_km: float,
    lat: str = "lat",
    lon: str = "lon",
    label_col: str = "label",
) -> DataFrame:
    """Null-out labels of train rows within ``buffer_km`` of test points.

    The reference computes "bad_train" with an un-keyed cross join filtered
    by ST_DWITHIN then masks with iff (build.py:165-213, 201); here the
    near-set comes from the cell-bucketed distance join and masking is the
    same conditional — identical semantics, bounded shuffle.
    """
    near = (
        distance_join(
            df.select(lat, lon).dropDuplicates([lat, lon]),
            test_points.select(lat, lon),
            buffer_km,
            lat,
            lon,
        )
        .select(lat, lon)
        .dropDuplicates([lat, lon])
        .withColumn("__near", F.lit(1))
    )
    return (
        df.join(F.broadcast(near), [lat, lon], "left")
        .withColumn(
            label_col,
            F.when(F.col("__near").isNotNull() & (F.col("is_test") == 0), None).otherwise(
                F.col(label_col)
            ),
        )
        .drop("__near")
    )


def split_train_application(df: DataFrame, label_col: str = "label"):
    """(train, application) on label null-ness (P5, build.py:121-138)."""
    return df.filter(F.col(label_col).isNotNull()), df.filter(F.col(label_col).isNull())
