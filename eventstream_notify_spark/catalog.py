"""Table catalog over the driver's parquet testdata.

The reference's "catalog" is a Redis keyspace (``event:{id}`` strings,
``offsets:*`` hashes — reference: auto_kafka_redis.py:88-91); ours is
explicit StructType-schema'd parquet tables that Catalyst can push
predicates and projections into.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Explicit schema for the event stream — the engine's core abstraction.
# Reference wire format: {"id": int, "value": str, "user_id": str,
# "timestamp": float} (reference: auto_kafka_redis.py:203-208); the
# driver's batch twin `events` table widens it with event_type/props.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Wire-format schema for streaming sources (JSON payloads off Kafka).
WIRE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("value", T.StringType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("timestamp", T.DoubleType()),
    ]
)


def tune_session(spark: SparkSession) -> None:
    """Runtime confs every engine query needs, applied on whatever
    session the caller built (the driver runs queries in its own
    VANILLA SparkSession — builder-time confs in session.py never reach
    it, so anything correctness- or performance-critical must be
    runtime-settable and set here).

    - nanosAsLong/UTC: correctness (see ``table``).
    - shuffle partitions = ``SPARK_GRAFT_CPUS`` (32 when unset or not
      a number): a vanilla session defaults to 200 — at local[32]/sf0.1
      that's 6x task-scheduling overhead per shuffle, and for STREAMING
      queries it means 200 RocksDB state-store instances per trigger
      (state partition count is pinned to shuffle partitions; AQE never
      coalesces streaming state). ``start_pipeline`` further caps its
      own state at the cluster's cores.
    - AQE + coalesce/skew: runtime re-planning for batch queries.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # date/time rendering must be tz-stable regardless of who built the
    # session (the DuckDB oracle compares against naive timestamps)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        # non-numeric (e.g. "*", "local[8]") -> the local[32] default;
        # an invalid conf string would otherwise fail at query time
        cpus = 32
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # r13 opt: RocksDB changelog checkpointing — commit a per-batch
    # changelog instead of snapshotting SST files on every commit (the
    # recommended high-commit-rate posture at scale; snapshots happen
    # asynchronously). Checkpoint REPRESENTATION only, computed rows
    # unchanged; ignored by non-RocksDB providers. Runtime-settable and
    # read at stream start, so it reaches streams in the driver's
    # vanilla session too (both file stream sources call tune_session).
    # Measured at sf0.1: state commit ~1.5 s -> ~0.2 s per instance
    # (zx_stream_agg_chain 4.67 -> 2.7 s, zx_stream_ewma 4.88 -> 4.0 s).
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true",
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TIMESTAMP regardless of
    the physical parquet layout the driver generated:

    - ``bigint``  — TIMESTAMP(NANOS) read via the nanosAsLong legacy
      conf; truncate nanos→micros (same truncation DuckDB applies).
    - ``timestamp_ntz`` — TIMESTAMP(MICROS, isAdjustedToUTC=false);
      cast to instant TIMESTAMP. The session timezone is pinned UTC in
      ``tune_session``, so the NTZ wall-clock reinterprets to the exact
      epoch-micros the DuckDB oracle computes.
    - ``timestamp`` — already an instant; no-op.

    Both the batch catalog and the streaming file source MUST route
    through this — a unit mismatch silently mis-scales event time by
    1000x instead of erroring.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if dtype == "timestamp":
        return df
    # Unknown layout — fail LOUDLY here at the catalog seam instead of
    # as silently mis-scaled event time deep inside operators (the
    # round-4 failure mode; a double-seconds or string layout would
    # otherwise flow through unconverted).
    raise ValueError(
        f"events.ts physical layout {dtype!r} is not a recognized "
        "timestamp encoding — the testdata generator changed; add a "
        "normalization branch in catalog.normalize_events_ts"
    )


# Temporal columns outside events that operators consume directly;
# same drift hazard, same fix: map every plausible physical layout to
# the one logical type the operators (and the DuckDB oracle, which
# reads the raw parquet) agree on, and raise on anything new.
TEMPORAL_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate", "l_commitdate", "l_receiptdate"),
}


def normalize_temporal(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Normalize date-like columns to a consistent logical type across
    testdata regens: NANOS-as-bigint (the layout events.ts once
    shipped with) becomes a microsecond instant; ntz/instant/date pass
    through (operators use them via date_format + literal comparisons,
    identical under the pinned UTC session tz); anything else raises
    at the catalog seam."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in cols:
        dtype = dtypes.get(c)
        if dtype is None:
            continue  # column-set drift is the schema pin test's job
        if dtype == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dtype not in ("timestamp", "timestamp_ntz", "date"):
            raise ValueError(
                f"{c} physical layout {dtype!r} is not a recognized "
                "temporal encoding — the testdata generator changed; "
                "add a normalization branch in catalog.normalize_temporal"
            )
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → full pushdown support.

    The ``events`` table's ``ts`` physical type has varied across
    testdata generations (TIMESTAMP(NANOS) read as int64 via legacy
    conf; TIMESTAMP_NTZ micros); ``normalize_events_ts`` maps every
    layout to the same microsecond instant TIMESTAMP.
    """
    tune_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    if name in TEMPORAL_COLS:
        df = normalize_temporal(df, TEMPORAL_COLS[name])
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
