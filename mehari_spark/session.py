"""SparkSession factory with scale-oriented defaults, and constant tables.

Local sandbox runs on local[N]; the same config block is what we would pass
to spark-submit on a real cluster (AQE + skew-join on, shuffle partitions
sized explicitly per stage, Arrow enabled for the pandas-UDF kernels).

The fixed cost of the Python boundary is kept off every call:

- constant tables (KBs, rule and marker tables, empty frames) are built by
  ``local_frame`` from Arrow, so Spark plans them as a ``LocalRelation``:
  collecting or broadcasting one runs no Python job, where a
  ``createDataFrame(list)`` is a Python-RDD scan that runs one every time;
- importing the engine (``mehari_spark/pyworker.py``) stops each Python
  worker from re-reading every unchanged zip directory before each task.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "mehari-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``cores`` pins local parallelism (used by the two-parallelism scaling
    bench); default comes from $SPARK_GRAFT_CPUS (driver contract).
    """
    n = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or int(
        os.environ.get("MEHARI_SPARK_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # shuffle sizing: ~cores locally; documented per-stage in BENCH/BASELINE.md
        .config("spark.sql.shuffle.partitions", str(sp))
        # AQE: runtime coalesce + skew-join splitting (north_rule P15)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow exchange for pandas UDF kernels (mehari-python analog)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("MEHARI_SPARK_DRIVER_MEM", "8g"))
    )
    # opt-in tmpfs shuffle dir: on a real cluster every executor brings its
    # own local disks, so single-shared-disk shuffle is a local-mode artifact;
    # MEHARI_SPARK_LOCAL_DIR=/dev/shm/... emulates per-node disk bandwidth
    local_dir = os.environ.get("MEHARI_SPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return _quiet(builder.getOrCreate())


def job_session(app_name: str) -> SparkSession:
    """The session of a ``jobs/*.py`` entry point: the submit command's
    config (bare python: the builder's defaults), with the console progress
    bar off so the job's JSON result line stays the last output line."""
    return _quiet(
        SparkSession.builder.appName(app_name)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


# ``stagecache.release`` unpersists localCheckpoints on purpose; each one
# makes this logger warn that the truncated lineage cannot be recomputed
_CHECKPOINT_RELEASE_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"


def _quiet(spark: SparkSession) -> SparkSession:
    """Log at WARN, except the expected checkpoint-release warning."""
    spark.sparkContext.setLogLevel("WARN")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        _CHECKPOINT_RELEASE_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


def local_frame(
    spark: SparkSession, rows: list[tuple], ddl: str | StructType
) -> DataFrame:
    """A constant table as a ``LocalRelation`` with exactly ``ddl``'s schema
    (names, types, nullability); ``ddl`` is a DDL string or a StructType."""
    schema = ddl if isinstance(ddl, StructType) else DataType.fromDDL(ddl)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
