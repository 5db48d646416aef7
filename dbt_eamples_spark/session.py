"""SparkSession factory.

UTC session timezone mirrors the reference's timezone normalization
(`/root/reference/connections.py:338-352` rebuilds cursor datetimes
with their own fixed offsets so values are instant-correct); Spark
stores timestamps UTC-normalized already, we just pin the session TZ
so rendering and the DuckDB oracle agree.

Scale posture: AQE on (runtime coalesce / skew-join / join re-plan),
shuffle partitions sized for the local harness but overridable via
env for cluster runs; Arrow enabled for the few Pandas-UDF paths.

The session puts the package's parent directory on its Python
workers' path, so Python-UDF stages import the engine from wherever it
is checked out and whatever the launching process's cwd and
``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)
# the directory holding the dbt_eamples_spark package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "dbt-eamples-spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    All settings are cluster-safe: on a real deployment only
    ``master`` and the partition counts change (via spark-submit),
    the semantic knobs (TZ, AQE, Arrow) stay.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture tables are single small parquet files → Spark would
        # plan ONE input split and serialize the whole scan on one
        # core; force the planner to cut at least one split per core
        # (no-op on a real cluster where files >> cores)
        .config("spark.sql.files.minPartitionNum", DEFAULT_CPUS)
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "4096"),
        )
        # fixture events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in the
        # catalog (sub-microsecond parts are zero in the fixtures)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
