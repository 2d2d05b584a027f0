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


def get_spark(app_name: str = "fictional_guacamole_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is master-agnostic except the local branch (no
    ``SPARK_MASTER``), which also runs ``local[SPARK_GRAFT_CPUS]`` with
    the package's worker daemon, puts the package on the workers' path
    and picks a checkpoint file manager that does not fork.
    ``SPARK_GRAFT_CPUS`` is read here, at call time, for both the master
    and the default shuffle partitions.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or int(cpus)
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
        # 100 TB state volumes. Bundled with Spark 4; used by the book
        # kernel and every watermarked aggregation.
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
        # Each state commit writes the version's changelog instead of
        # zipping and uploading a snapshot: ~40 ms instead of ~600 ms per
        # operator per trigger (4 tasks, 4-vCPU host). Snapshots move to
        # the store's maintenance thread. Checkpoints written with it off
        # resume under it.
        .config("spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled", "true")
    )
    if "SPARK_MASTER" not in os.environ:
        pkg_parent = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.master(f"local[{cpus}]")
            # Python workers import the package (the kernel's functions
            # pickle by reference, and the daemon below lives in it) even
            # when the driver started outside the repo without PYTHONPATH.
            # Spark merges this with its own and the driver's PYTHONPATH.
            .config("spark.executorEnv.PYTHONPATH", pkg_parent)
            # Forked workers stop re-reading pyspark.zip and the Spark jar
            # in every task (worker_daemon.py says why).
            .config("spark.python.daemon.module",
                    "fictional_guacamole_spark.worker_daemon")
            # The default FileContext manager renames each checkpoint file
            # through RawLocalFileSystem.getFileLinkStatus, which forks
            # `readlink` per file when the native Hadoop library is missing,
            # as in Spark's own distribution. The FileSystem manager
            # checks the destination with exists() and then renames; the
            # FileContext rename (AbstractFileSystem.renameInternal) is the
            # same check-then-rename, both ending in File.renameTo, so a
            # local path keeps the same guarantee. A cluster keeps Spark's
            # default manager.
            .config("spark.sql.streaming.checkpointFileManagerClass",
                    "org.apache.spark.sql.execution.streaming.checkpointing."
                    "FileSystemBasedCheckpointFileManager")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
