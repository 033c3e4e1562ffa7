"""SparkSession factory with scale-oriented defaults.

Mirrors the role of the reference's warehouse connection setup
(/root/reference/modeling/utils/snowflake.py:20-47) but for a Spark cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow on
(vectorized pandas-UDF transfer), UTC session timezone (deterministic
timestamp semantics vs the DuckDB oracle), shuffle partitions sized to the
local core count rather than the 200 default, and a generated-class cache
of 1000 entries rather than 100, so a session that re-runs its plans
compiles each generated class once (one-shot queries gain nothing).

On a real cluster these same configs apply; only ``master`` and memory sizing
change (spark-submit provides them). Nothing here is local-mode specific
except the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

def get_spark(
    app_name: str = "geocore_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    Parameters
    ----------
    master: e.g. ``local[8]`` / ``local[32]`` for the scaling bench; on a
        cluster leave None and let spark-submit supply it.
    shuffle_partitions: defaults to the parallelism level — at 100 TB scale
        this should instead be sized so each shuffle partition is
        100-500 MB (AQE coalescing handles the downward adjustment).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 128 MB input splits: at 100 TB this yields ~800k tasks — fine for
        # a 1000-executor cluster; local tests override nothing.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # G1 with a huge heap showed 10-50x pause-driven variance on this
        # string-heavy workload; throughput GC is stable (measured: 78s -> 1.5s
        # steady-state on the 2M-page tile pipeline).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Compiled generated classes live in one JVM-wide cache (Spark's
        # CodeGenerator object), sized by this static conf, so it must be
        # set before the first query. The default of 100 is below one
        # geo_features build (105-120 distinct classes): every warm re-run
        # evicted and recompiled 70-90 of them in Janino, and the JIT then
        # profiled and compiled each new class again. spatial_join and
        # lake_maintenance fit either way: once warm they compile nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and not os.environ.get(
        "PYSPARK_GATEWAY_PORT"
    ):
        # PYSPARK_GATEWAY_PORT means spark-submit already launched the JVM
        # with its own --master/--conf; forcing local[N] here would hijack
        # a real cluster submit. Only default the master for bare
        # `python script.py` runs.
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# frames persisted by an engine call, keyed by (owner, applicationId)
_LIVE: dict[tuple[str, str], list[DataFrame]] = {}


def release_previous(owner: str, spark: SparkSession) -> list[DataFrame]:
    """Unpersist the frames ``owner``'s previous call persisted in this
    Spark application; return the list this call adds its own to.

    So repeated gate/bench runs in one long-lived context hold one call's
    caches per owner, not one per invocation. Result frames still held by
    callers stay correct: an unpersisted plan recomputes deterministically.
    """
    app = spark.sparkContext.applicationId
    for key in [k for k in _LIVE if k[1] != app]:
        _LIVE.pop(key)  # stopped contexts: their JVM cache died with them
    for old in _LIVE.pop((owner, app), []):
        old.unpersist()
    return _LIVE.setdefault((owner, app), [])
