"""SparkSession construction with scale-appropriate defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
one JVM); the configs below are chosen so the *same* logical plans
hold up on a 1000-executor cluster at ~100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the single biggest lever for plans
  that must survive a 100× scale-up without re-tuning.
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamps and a
  fair comparison against the DuckDB oracle (UTC-naive).
- Arrow enabled — every Pandas-UDF extension op ships columns in
  Arrow batches, not pickled rows.
- Shuffle partitions sized to cores for local runs; on a real cluster
  AQE coalesces from a deliberately high initial number instead.
- Python workers find ``cdc_spark`` wherever the driver runs from:
  the directory holding the package leads their ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory that holds the cdc_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "cdc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MiB input splits: good parquet scan granularity at any SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events.parquet stores TIMESTAMP(NANOS) which the
        # Spark parquet reader rejects; read as long and convert in the
        # catalog (see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UDF and mapInPandas bodies import cdc_spark in the workers
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            filter(None, (PACKAGE_ROOT, os.environ.get("PYTHONPATH")))
        ))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
