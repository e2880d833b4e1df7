"""SparkSession factory with scale-appropriate defaults.

local[N] here; on a real cluster the same confs apply (AQE, Arrow,
shuffle partitions sized to cores) — partitioning-based design means
nothing else changes (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def build_session(
    app_name: str = "meilibridge_spark",
    cores: "int | None" = None,
    shuffle_partitions: "int | None" = None,
    extra_conf: "dict[str, str] | None" = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ParallelGC: G1's concurrent refinement collapses under many
        # allocating task threads (measured here: an allocation-heavy
        # 32-thread stage ran 5x SLOWER than at 8 threads under G1;
        # ParallelGC made it 11x faster and restored linear scaling).
        # Applied to both driver (local mode) and executors (cluster).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: "list[tuple]", schema: str) -> DataFrame:
    """Small driver-built rows -> a DataFrame planned as a
    ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` parallelizes the rows into a
    pickled RDD, so every action that reads the frame (collecting it,
    even empty, or broadcasting it into a join) runs Spark jobs of
    Python tasks to read rows the driver already holds. An Arrow table
    goes to the JVM as a local relation instead, and reading it runs no
    job. ``schema`` is a DDL string, as for ``createDataFrame``. For
    driver-bounded data only: the rows live in the plan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
