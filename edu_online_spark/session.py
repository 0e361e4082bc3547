"""SparkSession factory.

Every optimization the reference hand-rolled (SURVEY §4: manual operator
fusion, early filters, map-side combine, key salting) is subsumed by the
settings here — AQE (runtime coalesce + skew handling), whole-stage
codegen, partial aggregation — so operators stay declarative.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .config import DEFAULT, EngineConfig


def get_spark(cfg: EngineConfig = DEFAULT, extra: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    local[cfg.cpus] with one shuffle partition per core (streaming
    micro-batches run without AQE, so they pay exactly that count). On a
    cluster only the master URL and partition count change (spark-submit / env).
    """
    builder = (
        SparkSession.builder.appName(cfg.app_name)
        .master(f"local[{cfg.cpus}]")
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — replaces the reference's manual
        # salting (RegisterStreaming.scala:105-118).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", cfg.max_partition_bytes)
        .config("spark.sql.autoBroadcastJoinThreshold", cfg.broadcast_threshold)
        # Arrow for every pandas_udf / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic wall-clock semantics for oracle comparison.
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        # Parquet timestamps in testdata are NTZ (isAdjustedToUTC=false);
        # read them as-written so values match the DuckDB oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # testdata events.ts is TIMESTAMP(NANOS) which Spark has no type
        # for; read the raw int64 and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    if cfg.state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
