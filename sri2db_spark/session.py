"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness-at-scale first:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- UTC session timezone (deterministic timestamp semantics vs any oracle)
- Arrow enabled for the few Pandas-UDF paths (multimodal, ANN rerank)
- shuffle partitions sized from the env, not hardcoded to 200
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sri2db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, ``master`` comes from the deploy environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (all cores). ``shuffle_partitions``
    defaults to the parallelism of the master so small local runs don't pay the
    200-partition tax while cluster runs inherit cluster-sized defaults.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = int(cpus) if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing: Spark's defaults; byte-sized partitions slowed LSH/CC
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one 128 MiB input split per task at scale; local parquet is tiny anyway
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the standard testdata tables as DataFrames and register temp views.

    Returns a dict name → DataFrame. Parquet scans keep Catalyst pushdown
    (filters + column pruning reach the scan).
    """
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    from .plans.analytics import _t

    out = {}
    for name in names:
        df = _t(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
