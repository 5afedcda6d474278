"""Event-stream sources — the engine's ingest layer.

Re-expresses the reference's ingestion (KafkaConsumer + JSON value
deserializer + earliest reset + manual offset restore — reference:
auto_kafka_redis.py:231-304) as Structured Streaming sources:

- Kafka (production): ``readStream.format("kafka")`` + ``from_json``;
  offset checkpoint/restore is the built-in checkpointLocation WAL —
  strictly stronger than the reference's Redis offset hash (:398-405).
- file/parquet (tests, replay): same schema, deterministic.
- rate (synthetic): the reference's producer loop (:191-219) as a
  declarative column mapping over the rate source.

All variants emit one canonical schema, so every downstream operator
is source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_notify_spark.catalog import EVENT_SCHEMA, WIRE_EVENT_SCHEMA


def parse_wire_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON wire payloads -> the canonical EVENT_SCHEMA, with the
    corrupt-record path made explicit (the reference silently drops
    undecodable messages, auto_kafka_redis.py:301; we keep them
    observable).

    The reference wire format is ``{"id": N, "value": "event-N",
    "user_id": "userK", "timestamp": epoch_float}``
    (auto_kafka_redis.py:200-207) — stringly typed. Normalization here
    makes every source emit identical columns/types, so downstream
    stateful operators (RATE_OUTPUT_SCHEMA declares user_id long,
    value double, props string) accept a Kafka stream unchanged:

    - ``user_id``: trailing digits of ``"userK"`` as long;
    - ``event_type``: the alpha prefix of the payload name ("event");
    - ``value``: trailing digits of ``"event-N"`` as double;
    - ``props``: JSON ``{"k": value}`` mirroring the batch table's
      shape so ``filter_valid``'s ``$.k`` guard passes.
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), WIRE_EVENT_SCHEMA).alias("e"),
        F.col(value_col).cast("string").alias("_raw"),
    )
    wire_num = F.regexp_extract(F.col("e.value"), r"(\d+)$", 1)
    return parsed.select(
        F.col("e.id").alias("event_id"),
        F.timestamp_seconds(F.col("e.timestamp")).alias("ts"),
        F.regexp_extract(F.col("e.user_id"), r"(\d+)$", 1)
        .try_cast("long")
        .alias("user_id"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(F.col("e.value"), r"^([A-Za-z]+)", 1),
                F.lit(""),
            ),
            F.lit("wire"),
        ).alias("event_type"),
        wire_num.try_cast("double").alias("value"),
        F.to_json(
            F.struct(wire_num.try_cast("double").alias("k"))
        ).alias("props"),
        # PERMISSIVE from_json yields an all-null struct on malformed
        # input (never a null struct), so corrupt = every field null
        F.when(
            F.col("e").isNull()
            | (
                F.col("e.id").isNull()
                & F.col("e.value").isNull()
                & F.col("e.user_id").isNull()
                & F.col("e.timestamp").isNull()
            ),
            F.col("_raw"),
        ).alias("_corrupt_record"),
    )


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka ingest (A1 streaming). Not exercised in CI (no broker in
    the container) — the code path mirrors file_events_stream exactly
    after the source exchange."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return _canonical_wire(parse_wire_events(raw))


def _canonical_wire(parsed: DataFrame) -> DataFrame:
    """Pipeline-facing view of a parsed wire stream: undecodable
    messages are dropped EXPLICITLY here (the reference drops them
    silently, auto_kafka_redis.py:301; batch consumers wanting the
    corrupt rows use parse_wire_events directly) and the diagnostic
    column is removed so the canonical 6-column EVENT_SCHEMA reaches
    the stateful operators, whose declared output schemas are exact."""
    return parsed.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )


def to_wire(events: DataFrame) -> DataFrame:
    """Canonical events -> the reference's wire JSON (key, value)
    columns (auto_kafka_redis.py:200-207 payload shape).

    The payload name is rebuilt from the REAL canonical columns —
    ``{event_type}-{value}`` — not from event_id, so what goes over
    the wire carries the event's actual value. The round trip through
    ``parse_wire_events`` is lossless exactly for reference-shaped
    events (alpha ``event_type``, integral ``value`` — the only shape
    the reference's digit-suffix wire format can carry); non-integral
    values serialize faithfully (``"event-1.5"``) but re-parse
    through the reference's trailing-digits rule. Pinned by the
    round-trip test in tests/test_sources.py."""
    num = F.when(
        F.col("value") == F.floor("value"),
        F.col("value").cast("long").cast("string"),
    ).otherwise(F.col("value").cast("string"))
    return events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.concat_ws(
                    "-",
                    F.coalesce(F.col("event_type"), F.lit("event")),
                    num,
                ).alias("value"),
                F.format_string("user%d", F.col("user_id")).alias("user_id"),
                (F.unix_micros("ts") / F.lit(1e6)).alias("timestamp"),
            )
        ).alias("value"),
    )


def kafka_events_sink(
    events: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """Kafka egress twin of ``kafka_events_stream`` — the reference's
    producer side (auto_kafka_redis.py:221-229 send + flush) as a
    Structured Streaming writer: canonical events serialize back to
    the wire JSON shape, keyed by event_id (per-key ordering within a
    partition, like the reference's implicit single-partition order).
    Not exercised in CI (no broker); the serialization (``to_wire``)
    is the testable part — tests round-trip it through
    ``parse_wire_events``."""
    wire = to_wire(events)
    return (
        wire.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def wire_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-transport twin of ``kafka_events_stream`` for broker-less
    CI: a parquet directory of ``(key, value)`` wire rows stands in
    for the topic, and the SAME ``parse_wire_events`` decodes it — so
    the produce → ingest → pipeline loop is exercised end to end with
    only the broker itself swapped out.

    A CI double, not a transport to run for long: the file source
    lists the whole directory on every trigger, so a trigger's offset
    work grows with the files already consumed (~19 ms per 1,000 files
    on a 4-core host), where Kafka's offsets cost O(1) per trigger."""
    raw = spark.readStream.schema("key string, value string").parquet(path)
    return _canonical_wire(parse_wire_events(raw))


def wire_file_sink(events: DataFrame, path: str, checkpoint_dir: str):
    """File-transport twin of ``kafka_events_sink``: identical
    ``to_wire`` serialization, parquet 'topic' directory as the
    transport. Broker-specific options are the ONLY difference from
    the Kafka writer."""
    return (
        to_wire(events)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def file_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events table as a stream (test double for
    Kafka — SURVEY §7 'no live Kafka in CI'). The ts column is
    normalized through the same ``catalog.normalize_events_ts`` the
    batch path uses — the streaming schema is derived from the actual
    parquet footer (a driver-side metadata read, no data scan), so a
    physical-layout change in the testdata can't silently mis-scale
    event time. tune_session matters doubly here: on a vanilla
    session, shuffle partitions (200) pin the streaming STATE
    partition count — 200 RocksDB instances/trigger."""
    from eventstream_notify_spark.catalog import normalize_events_ts, tune_session

    tune_session(spark)
    # Streaming state partition count == shuffle partitions at stream
    # START (pinned per checkpoint; AQE never applies to streaming).
    # The engine's bounded-replay streams carry ~10^2 keys / 10^5 rows
    # per trigger: 8 state stores beat 32 by ~30% wall-clock (fewer
    # store open/commit cycles and Python worker round-trips). Batch
    # queries are untouched — every builder re-runs tune_session,
    # which restores the batch setting.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"),
    )
    # Footer-only schema probe: streaming reads REQUIRE a declared
    # schema, and declaring the wrong physical type for ts coerces
    # instead of erroring (nanos declared as micros = every window
    # collapses). Probe the real layout once, driver-side.
    probe = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(probe.dtypes).get("ts", "timestamp_ntz")
    schema = (
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def rate_events_stream(
    spark: SparkSession, events_per_second: int = 20
) -> DataFrame:
    """B6 streaming — the reference producer as a rate-source mapping:
    monotone id wrapping at 10^6, 5 synthetic users, event-time stamp
    (auto_kafka_redis.py:191-219)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", events_per_second)
        .load()
        .select(
            (F.col("value") % 1_000_000).alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5 + 1).alias("user_id"),
            F.lit("synthetic").alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
            F.format_string('{"k": %d}', F.col("value") % 100).alias("props"),
        )
    )


__all__ = [
    "EVENT_SCHEMA",
    "WIRE_EVENT_SCHEMA",
    "parse_wire_events",
    "to_wire",
    "kafka_events_stream",
    "kafka_events_sink",
    "file_events_stream",
    "rate_events_stream",
]
