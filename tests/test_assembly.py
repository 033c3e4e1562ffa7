"""Feature/label assembly + temporal operators."""

import datetime

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from geocore_spark.operators import assembly, temporal


def test_join_features_left_anchor(spark):
    a = spark.createDataFrame([("13:1:1", 1.0), ("13:2:2", 2.0)], "cell string, f_a double")
    b = spark.createDataFrame([("13:1:1", 10.0)], "cell string, f_b double")
    c = spark.createDataFrame([("13:9:9", 5.0)], "cell string, f_c double")
    out = assembly.join_features([a, b, c]).orderBy("cell").collect()
    assert len(out) == 2  # anchor rows preserved
    assert out[0]["f_b"] == 10.0 and out[1]["f_b"] is None
    assert all(r["f_c"] is None for r in out)


def test_join_features_rejects_duplicate_index(spark):
    a = spark.createDataFrame([("13:1:1", 1.0), ("13:1:1", 2.0)], "cell string, f double")
    with pytest.raises(assembly.BadTable, match="distinct"):
        assembly.join_features([a])


def test_join_features_rejects_mixed_resolution(spark):
    a = spark.createDataFrame([("13:1:1", 1.0)], "cell string, f_a double")
    b = spark.createDataFrame([("11:1:1", 1.0)], "cell string, f_b double")
    with pytest.raises(assembly.BadTable, match="resolution"):
        assembly.join_features([a, b])
    # one layer mixing resolutions, its first row at res 13: every row
    # counts, not just the first
    mixed = spark.createDataFrame(
        [("13:1:1", 1.0), ("11:1:1", 2.0)], "cell string, f double"
    ).coalesce(1)
    with pytest.raises(assembly.BadTable, match="resolution"):
        assembly.join_features([mixed])


def test_join_features_evaluates_each_layer_once(spark):
    # the layer's cell comes out of a Python UDF that counts its calls:
    # the guards and every later action must read one materialization
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def to_cell(i):
        calls.add(1)
        return f"13:{i}:{i}"

    n = 40
    layer = spark.range(n).select(to_cell("id").alias("cell"), F.col("id").alias("f_a"))
    other = spark.createDataFrame([("13:1:1", 10.0)], "cell string, f_b double")
    out = assembly.join_features([layer, other])
    assert out.count() == n
    assert sum(r["f_b"] is not None for r in out.collect()) == 1
    assert calls.value == n


def test_join_features_releases_previous_layers(spark):
    a = spark.createDataFrame([("13:1:1", 1.0)], "cell string, f_a double")
    b = spark.createDataFrame([("13:1:1", 2.0)], "cell string, f_b double")
    assembly.join_features([a, b])
    assert a.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert b.storageLevel == StorageLevel.MEMORY_AND_DISK
    c = spark.createDataFrame([("13:2:2", 3.0)], "cell string, f_c double")
    # a layer the caller cached stays the caller's to release
    own = spark.createDataFrame([("13:2:2", 4.0)], "cell string, f_d double").persist()
    assembly.join_features([c, own])
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE
    assert c.storageLevel == StorageLevel.MEMORY_AND_DISK
    assembly.join_features([a])
    assert c.storageLevel == StorageLevel.NONE
    assert own.storageLevel != StorageLevel.NONE
    own.unpersist()


def test_mask_bad_train_guard_stays_out_of_the_layer_scan(spark, tmp_path):
    # the polar guard of mask_bad_train's distance join must not be
    # pushed into a source FileScan: it would inline the layer's whole
    # projection into the scan filter
    path = str(tmp_path / "layer")
    spark.createDataFrame(
        [("13:1:1", 40.0, -74.0, 1), ("13:2:2", 45.0, -100.0, 0)],
        "cell string, lat double, lon double, label int",
    ).write.parquet(path)
    feats = assembly.join_features([spark.read.parquet(path)])
    test_cells = spark.createDataFrame([("13:1:1",)], "cell string")
    test_pts = spark.createDataFrame([(40.001, -74.001)], "lat double, lon double")
    masked = assembly.mask_bad_train(
        assembly.flag_test_cells(feats, test_cells), test_pts, buffer_km=5.0
    )
    plan = masked._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    assert not [ln for ln in scans if "raise_error" in ln], scans
    assert {r["cell"]: r["label"] for r in masked.collect()} == {"13:1:1": 1, "13:2:2": 0}


def test_meta_leak_guard():
    with pytest.raises(assembly.BadTable, match="leak"):
        assembly.assert_no_meta_leak(["f_x", "weight"])
    assembly.assert_no_meta_leak(["f_x", "f_y"])  # no raise


def test_merge_labels_max_weight_wins(spark):
    s1 = spark.createDataFrame(
        [("13:1:1", 1, 0.5, "KNOWN"), ("13:2:2", 0, 0.9, "KNOWN")],
        "cell string, label int, weight double, type string",
    )
    s2 = spark.createDataFrame(
        [("13:1:1", 0, 0.8, "INFERRED"), ("13:3:3", 1, 0.1, "INFERRED")],
        "cell string, label int, weight double, type string",
    )
    out = {r["cell"]: r for r in assembly.merge_labels([s1, s2]).collect()}
    assert len(out) == 3
    assert out["13:1:1"]["label"] == 0 and out["13:1:1"]["weight"] == 0.8
    assert out["13:2:2"]["type"] == "KNOWN"


def test_merge_labels_contract(spark):
    bad = spark.createDataFrame([("13:1:1", 1)], "cell string, label int")
    with pytest.raises(assembly.BadTable, match="missing"):
        assembly.merge_labels([bad])


def test_flag_test_cells(spark):
    df = spark.createDataFrame([("13:1:1",), ("13:2:2",)], "cell string")
    test = spark.createDataFrame([("13:2:2",), ("13:2:2",)], "cell string")
    out = {r["cell"]: r["is_test"] for r in assembly.flag_test_cells(df, test).collect()}
    assert out == {"13:1:1": 0, "13:2:2": 1}


def test_split_train_application(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", None), ("c", 0)], "cell string, label int"
    )
    train, app = assembly.split_train_application(df)
    assert {r["cell"] for r in train.collect()} == {"a", "c"}
    assert {r["cell"] for r in app.collect()} == {"b"}


def test_mask_bad_train(spark):
    # two labeled points; one is 1 km from a test point -> label nulled
    df = spark.createDataFrame(
        [(40.0, -74.0, 1, 0), (45.0, -100.0, 1, 0), (40.001, -74.001, 1, 1)],
        "lat double, lon double, label int, is_test int",
    )
    test_pts = spark.createDataFrame([(40.001, -74.001)], "lat double, lon double")
    out = assembly.mask_bad_train(df, test_pts, buffer_km=5.0)
    rows = {(r["lat"], r["lon"]): r["label"] for r in out.collect()}
    assert rows[(40.0, -74.0)] is None  # masked: near test point, not test itself
    assert rows[(45.0, -100.0)] == 1  # far away: kept
    assert rows[(40.001, -74.001)] == 1  # the test row itself: kept


def _events(spark):
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for uid in (1, 2):
        for m in (0, 10, 50, 70, 200):
            rows.append((uid, base + datetime.timedelta(minutes=m), float(uid * 100 + m)))
    return spark.createDataFrame(rows, "user_id long, ts timestamp, speed double")


def test_windowed_range_agg(spark):
    out = temporal.windowed_range_agg(_events(spark), "user_id", "ts", "speed")
    got = {(r["user_id"], r["window_start"].minute + r["window_start"].hour * 60): r["change"]
           for r in out.collect()}
    # hour 0 has minutes 0,10,50 -> change 50; hour 1 has 70 -> 0; hour 3 has 200 -> 0
    assert got[(1, 0)] == 50.0 and got[(1, 60)] == 0.0 and got[(1, 180)] == 0.0
    assert len(got) == 6


def test_hour_bucket_join(spark):
    ev = _events(spark)
    agg = temporal.windowed_range_agg(ev, "user_id", "ts", "speed")
    joined = temporal.hour_bucket_join(ev, agg, "user_id", "ts")
    assert joined.count() == ev.count()
    assert joined.filter(F.col("change").isNull()).count() == 0
    row = joined.filter((F.col("user_id") == 1) & (F.col("speed") == 110.0)).first()
    assert row["change"] == 50.0
