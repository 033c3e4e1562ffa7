"""Config-driven dataset assembly (build_dataset port)."""

import pytest
from pyspark.sql import functions as F

from geocore_spark import registry as reg
from geocore_spark.operators.assembly import BadTable


@pytest.fixture(autouse=True)
def _clean_registries():
    saved = (dict(reg.FEATURES_REGISTRY), dict(reg.LABEL_REGISTRY), dict(reg.TEST_REGISTRY))
    reg.FEATURES_REGISTRY.clear()
    reg.LABEL_REGISTRY.clear()
    reg.TEST_REGISTRY.clear()
    yield
    reg.FEATURES_REGISTRY.update(saved[0])
    reg.LABEL_REGISTRY.update(saved[1])
    reg.TEST_REGISTRY.update(saved[2])


def _cell(i: int) -> str:
    """Res-13 cell i on a diagonal near the equator (the buffer join raises
    on rows above its max_abs_lat, so fixture cells stay off the poles)."""
    return f"13:{i}:{4000 + i}"


def _setup(spark):
    @reg.register(reg.FEATURES_REGISTRY, "f_base")
    def f_base(s):
        return s.createDataFrame(
            [(_cell(i), float(i)) for i in range(10)], "cell string, f_a double"
        )

    @reg.register(reg.FEATURES_REGISTRY, "f_partial")
    def f_partial(s):
        return s.createDataFrame(
            [(_cell(i), i * 10.0) for i in range(5)], "cell string, f_b double"
        )

    @reg.register(reg.LABEL_REGISTRY, "l_main")
    def l_main(s):
        return s.createDataFrame(
            [(_cell(1), 1, 0.9, "KNOWN"), (_cell(2), 0, 0.5, "KNOWN")],
            "cell string, label int, weight double, type string",
        )

    @reg.register(reg.TEST_REGISTRY, "t_held")
    def t_held(s):
        return s.createDataFrame([(_cell(3),)], "cell string")


def test_build_dataset_end_to_end(spark):
    _setup(spark)
    cfg = reg.DatasetConfig(features=["f_base", "f_partial"], labels=["l_main"], tests=["t_held"])
    train, app = reg.build_dataset(spark, cfg)
    t = {r["cell"]: r for r in train.collect()}
    assert set(t) == {_cell(1), _cell(2)}
    assert t[_cell(1)]["label"] == 1 and t[_cell(1)]["f_b"] == 10.0
    assert app.count() == 8  # unlabeled cells
    assert app.filter(F.col("cell") == _cell(3)).first()["is_test"] == 1


def test_categorical_cast_config(spark):
    """Reference's optional category cast (build.py:393-395): listed columns
    come out as strings; unknown names raise."""
    _setup(spark)
    cfg = reg.DatasetConfig(
        features=["f_base", "f_partial"], labels=["l_main"], categorical=["f_a"]
    )
    train, app = reg.build_dataset(spark, cfg)
    assert dict(train.dtypes)["f_a"] == "string"
    assert dict(app.dtypes)["f_a"] == "string"
    with pytest.raises(KeyError, match="categorical"):
        reg.build_dataset(
            spark,
            reg.DatasetConfig(
                features=["f_base"], labels=["l_main"], categorical=["nope"]
            ),
        )


def test_build_dataset_rejects_duplicates(spark):
    _setup(spark)
    with pytest.raises(BadTable, match="duplicate"):
        reg.build_dataset(
            spark, reg.DatasetConfig(features=["f_base", "f_base"], labels=["l_main"])
        )


def test_build_dataset_unknown_layer(spark):
    _setup(spark)
    with pytest.raises(KeyError, match="unregistered"):
        reg.build_dataset(spark, reg.DatasetConfig(features=["nope"], labels=["l_main"]))


def test_register_rejects_same_name(spark):
    _setup(spark)
    with pytest.raises(ValueError, match="duplicate"):

        @reg.register(reg.FEATURES_REGISTRY, "f_base")
        def again(s):
            return None


def test_load_config_yaml(spark, tmp_path):
    _setup(spark)
    p = tmp_path / "exp.yaml"
    p.write_text(
        "experiment: x\n"
        "dataset:\n"
        "  features: [f_base, f_partial]\n"
        "  labels: [l_main]\n"
        "  tests: [t_held]\n"
        "  buffer_km: 0.0001\n"
        "model: {type: lightgbm}\n"
    )
    cfg = reg.load_config(str(p))
    assert cfg.features == ["f_base", "f_partial"]
    assert cfg.buffer_km == 0.0001 and cfg.index_col == "cell"
    train, app = reg.build_dataset(spark, cfg)
    assert train.count() > 0 and app.count() > 0
