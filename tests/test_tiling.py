"""Tiling grid: Column exprs vs numpy mirror, hierarchy, cell-id codec."""

import re
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from geocore_spark.functions import tiling as tl


def test_numpy_mirror_matches_column_expr(spark):
    rng = np.random.default_rng(42)
    lat = rng.uniform(-89, 89, 500)
    lon = rng.uniform(-180, 180, 500)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double"
    )
    got = [
        r[0]
        for r in df.select(
            tl.latlng_to_cell(F.col("lat"), F.col("lon"), 13)
        ).collect()
    ]
    want = list(tl.np_cell_strings(lat, lon, 13))
    assert got == want


def test_long_and_string_forms_agree(spark):
    lat, lon = np.array([10.5, -45.0, 90.0]), np.array([20.25, 170.1, 180.0])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lat, lon)], "lat double, lon double"
    )
    got = [
        r[0]
        for r in df.select(tl.latlng_to_cell_long(F.col("lat"), F.col("lon"), 13)).collect()
    ]
    assert got == tl.pack_cell(13, *tl.np_encode(lat, lon, 13)).tolist()


def test_centroid_within_cell(spark):
    df = spark.createDataFrame([(37.77, -122.42)], "lat double, lon double")
    row = df.select(
        tl.cell_to_latlng(tl.latlng_to_cell(F.col("lat"), F.col("lon"), 13)).alias("c")
    ).first()
    e = tl.edge_deg(13)
    assert abs(row["c"]["lat"] - 37.77) <= e
    assert abs(row["c"]["lon"] + 122.42) <= e


def test_parent_and_children_roundtrip(spark):
    df = spark.createDataFrame([(37.77, -122.42)], "lat double, lon double")
    cell = tl.latlng_to_cell(F.col("lat"), F.col("lon"), 13)
    row = df.select(
        cell.alias("cell"),
        tl.cell_to_parent(cell, 11).alias("parent"),
        tl.latlng_to_cell(F.col("lat"), F.col("lon"), 11).alias("direct11"),
    ).first()
    assert row["parent"] == row["direct11"]
    # the 16 res-13 children of the parent all re-parent to it, the cell among them
    _, px, py = (int(p) for p in row["parent"].split(":"))
    kids = [f"13:{4 * px + dx}:{4 * py + dy}" for dx in range(4) for dy in range(4)]
    assert len(set(kids)) == 16 and row["cell"] in kids
    df = spark.createDataFrame([(k,) for k in kids], "cell string")
    assert {r[0] for r in df.select(tl.cell_to_parent(F.col("cell"), 11)).collect()} == {
        row["parent"]
    }


def test_null_and_nan_coords_encode_to_null(spark):
    # least/greatest skip nulls and floor(NaN) casts to 0 — unguarded,
    # every bad-coordinate row silently became the corner cell 'r:0:0'
    df = spark.createDataFrame(
        [(0, 40.0, -74.0), (1, None, -74.0), (2, 40.0, None),
         (3, float("nan"), 0.0), (4, 0.0, float("nan"))],
        "id long, lat double, lon double",
    )
    rows = df.select(
        "id",
        tl.latlng_to_cell(F.col("lat"), F.col("lon"), 13).alias("c"),
        tl.latlng_to_cell_long(F.col("lat"), F.col("lon"), 13).alias("cl"),
    ).collect()
    got = {r["id"]: (r["c"], r["cl"]) for r in rows}
    assert got[0][0] is not None and got[0][1] is not None
    for i in range(1, 5):
        assert got[i] == (None, None), i
    # finite out-of-range still clamps to the edge (deliberate)
    edge = spark.range(1).select(
        tl.latlng_to_cell(F.lit(90.0), F.lit(180.0), 13).alias("c")
    ).first()["c"]
    assert edge == f"13:{tl.ncols(13) - 1}:{tl.nrows(13) - 1}"


def test_haversine_antipodal_never_nan(spark):
    from geocore_spark.functions.geodesy import haversine_km

    # measured pair where the unclamped haversine term hit 1 + 4e-16
    df = spark.createDataFrame(
        [(58.391010399635434, 142.79058575182586,
          -58.39101049825921, -37.20941416787758)],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    )
    d = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d")
    ).first()["d"]
    assert d == d  # not NaN
    assert abs(d - 2 * 3.14159265 * 6371.0088 / 2) < 1.0  # ~half circumference


def test_cell_to_parent_guards(spark):
    df = spark.range(1).select(F.lit("13:100:200").alias("cell"))
    rows = df.select(
        tl.cell_to_parent(F.col("cell"), 11).alias("up"),
        tl.cell_to_parent(F.col("cell"), 13).alias("same"),
        tl.cell_to_parent(F.col("cell"), 15).alias("down"),
    ).first()
    assert rows["up"] == "11:25:50"
    assert rows["same"] == "13:100:200"  # already at parent_res: pass-through
    assert rows["down"] is None  # cannot coarsen upward; was DIVIDE_BY_ZERO


def test_bbox_to_cells_antimeridian_wraps(spark):
    ix, iy = tl.bbox_to_cells(10.0, 11.0, 179.5, -179.5, res=9)
    assert len(ix) == len(iy) > 0  # previously silently empty
    xs = set(ix.tolist())
    assert max(xs) == tl.ncols(9) - 1 and min(xs) == 0  # both sides of the seam
    with pytest.raises(ValueError, match="lat_min"):
        tl.bbox_to_cells(11.0, 10.0, 0.0, 1.0, res=9)


def test_rings_for_km():
    # res 13 cell is ~2.44 km N-S; 5 km needs >= 3 rings at lat 66
    assert tl.rings_for_km(5.0, 13) >= 2
    assert tl.rings_for_km(0.1, 13) == 1


def test_resolution_extraction(spark):
    df = spark.createDataFrame([(10.0, 10.0)], "lat double, lon double")
    row = df.select(
        tl.cell_resolution(tl.latlng_to_cell(F.col("lat"), F.col("lon"), 9)).alias("r")
    ).first()
    assert row["r"] == 9


def test_only_tiling_and_oracle_know_the_cell_id_layout():
    """Under geocore_spark/, only functions/tiling.py and its SQL twins in
    oracle.py split or format the "r:ix:iy" separator; every other module
    goes through them."""
    pkg = Path(tl.__file__).resolve().parents[1]
    code = {
        "split on ':'": r"split\((?:[^\n]*?,\s*)?[\"']:[\"']",
        "concat_ws(':'": r"concat_ws\(\s*[\"']:[\"']",
        "SQL concat(.., ':', ..)": r"\bconcat\([^\n]*?,\s*[\"']:[\"']\s*,",
        "f-string layout": r"\{[^{}\n]*\}:(?:\{|[\"'])",
    }
    seen = set()
    for path in sorted(pkg.rglob("*.py")):
        name = path.relative_to(pkg).as_posix()
        text = path.read_text()
        for what, pattern in code.items():
            if re.search(pattern, text):
                assert name in ("functions/tiling.py", "oracle.py"), (name, what)
                seen.add(what)
    assert seen == set(code)  # each pattern still matches the codec itself
