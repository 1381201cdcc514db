"""SparkSession construction with scale-aware defaults.

Single place where execution knobs are set so tests, bench, and the
driver entry all run the same engine profile. AQE is on (runtime
coalescing + skew-join handling); Arrow transfer is on (all our Python
UDF surfaces are pandas/Arrow-vectorized); session timezone is pinned
to UTC so timestamp comparison against the DuckDB oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from fairy_spark.config import EngineConfig


def get_spark(cfg: EngineConfig | None = None) -> SparkSession:
    cfg = cfg or EngineConfig.from_env()
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(cfg.adaptive_enabled).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        .config("spark.sql.warehouse.dir", cfg.warehouse_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable in
        # Spark 4; read as long ns-since-epoch, converted in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
