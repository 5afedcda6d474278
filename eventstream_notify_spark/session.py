"""SparkSession factory with scale-aware defaults.

Mirrors the role of the reference's ``config.yaml`` loader
(reference: auto_kafka_redis.py:43-67) — one place that turns
configuration into a ready-to-use engine handle.

Defaults are tuned for the test harness (local[N], 10^4..10^6 rows)
but every setting is chosen to also be the right *shape* at cluster
scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized via env, UTC session timezone
(determinism vs naive-timestamp oracles), Arrow for any pandas
exchange.

The shuffle-partition default (32) is for batch queries. Streaming
state is sized apart from it: ``streaming.pipeline.start_pipeline``
gives its stateful operators ``min(spark.sql.shuffle.partitions,
defaultParallelism)`` partitions, scoped to the query's start, so the
session itself keeps 32. That cap is read once, at a checkpoint's
first start, and the offset log pins it for the stream's life; under
dynamic allocation it reflects the executors registered at that
moment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "eventstream-notify-spark") -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors the driver env contract:
    - ``SPARK_GRAFT_CPUS``: local[] parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- determinism / oracle compatibility -------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale posture ----------------------------------------
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # spill-aware input sizing: ~128 MB per scan task keeps any
        # partition comfortably in executor memory at cluster scale
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python exchange is always Arrow ----------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- streaming state at scale: RocksDB, not heap ----------
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # r13 opt: commit a per-batch CHANGELOG instead of snapshotting
        # SST files every commit — the recommended high-commit-rate
        # RocksDB posture at scale (snapshots still happen, just
        # asynchronously/periodically). Checkpoint representation only;
        # computed rows are unchanged. Measured on the bounded-replay
        # suite: state commit drops from ~1.5 s to ~0.2 s per instance
        # (e.g. zx_stream_agg_chain 4.67 -> 2.7 s, zx_stream_ewma
        # 4.88 -> 4.0 s at sf0.1).
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # 12g default: local[32] means driver heap = the WHOLE JVM
        # (all 32 executor threads' operators + state stores + any
        # sink residue). 8g left ~0 headroom in a 276-query session —
        # the r8 bench OOM needed the memory-sink fix AND margin; the
        # box has 128 GiB, so 12g is still conservative.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
