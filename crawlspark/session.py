"""SparkSession factory with the engine's production config.

Local mode is the sandbox stand-in for a multi-executor cluster; the
knobs below (AQE, shuffle partitions ≈ cores, Arrow) are the ones that
transfer to `spark-submit --py-files` on a real cluster.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# JVM-native helpers (Bloom probe) compiled offline by
# tools/build_native.sh; sessions we build load it, foreign sessions
# (the driver's) fall back to the Python probe paths automatically.
NATIVE_JAR = Path(__file__).resolve().parent / "jars" / "crawlspark-native.jar"


def get_spark(
    app_name: str = "crawlspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cores
    if driver_memory is None:
        # Conservative default, env-overridable; high-thread-count runs
        # need more heap (GC thrash at 16g/32 threads), so scale with
        # cores rather than pinning every caller to the bench-size JVM.
        driver_memory = os.environ.get(
            "CRAWLSPARK_DRIVER_MEM", "48g" if cores >= 16 else "16g"
        )

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "CRAWLSPARK_WAREHOUSE_DIR", f"/tmp/crawlspark-sql-warehouse-{os.getpid()}"
            ),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if NATIVE_JAR.exists():
        b = b.config("spark.jars", str(NATIVE_JAR)).config(
            "spark.driver.extraClassPath", str(NATIVE_JAR)
        )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-side rows (tuples in `schema` field order) as a JVM
    LocalRelation with exactly `schema`, nullability included.

    `createDataFrame(list, schema)` pickles the rows into a Python RDD
    whose every partition runs a Python-worker task, and the planner
    cannot prove it empty. An Arrow table always takes the Arrow path,
    whatever the session's Arrow setting, and lands as a LocalRelation:
    collecting it runs no job, and Catalyst's empty-relation rules drop
    an anti or outer join against an empty one at planning time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
