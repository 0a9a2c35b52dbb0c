"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same settings are what we'd ship to
a real cluster via ``spark-submit --py-files`` (AQE on, adaptive skew
join, Arrow for pandas UDFs, shuffle partitions sized to cores — on a
1000-executor cluster these come from the submit conf instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spread_scan(df, target: int | None = None):
    """Scan-parallelism floor for sub-splittable inputs (optimization
    guide §6: `spark.sql.files.minPartitionNum` sets the floor, but a
    parquet file with ONE row group still scans as one task no matter
    how the byte ranges split). Heavy map-side work that precedes the
    first exchange — interpreted higher-order functions over vector
    columns, Arrow/pandas UDF stages — then serializes on one core.

    When the plan's current width is below the session's default
    parallelism, round-robin repartition to the core count (the local
    sort that makes round-robin deterministic under retry is on by
    default — SPARK-23207); otherwise return the frame unchanged, so a
    real multi-row-group corpus at scale pays NO extra exchange. Row
    SETS are unchanged either way."""
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(spark: SparkSession, rows, ddl: str):
    """A DataFrame over driver-built ``rows`` (tuples in ``ddl`` column
    order) that plans as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list)`` pickles the rows into a
    ``PythonRDD``, so every query that scans such a frame, however
    small, runs python tasks (~140 ms each, OPTIMIZATION_r06.md item
    4). Here the rows become a ``pyarrow.Table`` typed from the DDL and
    Spark stores it as a local relation (or, above
    ``spark.sql.execution.arrow.localRelationThreshold``, a JVM RDD of
    Arrow batches): same schema and rows, no python task. The one
    place the package turns driver rows into a frame
    (tests/test_python_boundary.py keeps it so)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _default_driver_memory() -> str:
    """Driver heap for local mode: 48g, or about half of physical
    memory when the box has less than 96 GiB (the JVM also needs
    off-heap room, and python workers share the box)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1, min(48 * 1024, kb // 2048))}m"


def build_spark(
    app_name: str = "pholcus-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary image bodies make rows wide: bound Arrow batch size so
        # 32 concurrent python workers don't each hold ~0.7 GB batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: the driver JVM IS the executor — size it for cached
        # fixture + shuffle buffers; SPARK_DRIVER_MEM overrides
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
