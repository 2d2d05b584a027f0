"""SparkSession factory.

Single place where execution-relevant config lives. Tuned for the test
harness (local[N], one JVM) but every setting is chosen for cluster scale:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
the Python boundary, UTC session time so timestamp semantics are stable
across engines (the reference mixed local-time and UTC timestamps —
/root/reference/real_guac.py:79 vs real_guac_async.py:112 — we standardize
on UTC everywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "fictional_guacamole_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is master-agnostic except the local[] fallback.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime partition coalescing + skew-join handling. At 100 TB
        # this is what keeps a skewed key from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # match partitions to parallelism at test scale; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(sp))
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # deterministic timestamp semantics across Spark and the DuckDB oracle
        # (the events fixture is physical TIMESTAMP(MICROS) at every SF —
        # verified via pyarrow ParquetFile.schema — so no legacy nanos flag
        # is needed and get_spark() sessions match caller-provided ones)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # RocksDB state store: streaming state lives off-heap/on-disk per
        # executor instead of in the JVM heap — the backend that holds at
        # 100 TB state volumes. Changelog checkpointing is left at its
        # default (off), so every state commit uploads a snapshot.
        # Bundled with Spark 4; used by the book kernel and every
        # watermarked aggregation.
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
    )
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
