"""Session defaults from ``get_spark`` that change how the engine runs."""

from pyspark.sql import functions as F


def _compiled_classes(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_generated_classes_compile_once_per_session(spark):
    """150 projections, each its own generated class (a primitive literal
    is inlined into the code), outnumber Spark's default cache of 100
    classes. With the session's cache a second pass compiles nothing."""

    def run_all():
        for i in range(1, 151):
            spark.range(8).select((F.col("id") * i + i).alias("x")).collect()

    run_all()
    before = _compiled_classes(spark)
    run_all()
    assert _compiled_classes(spark) - before == 0
