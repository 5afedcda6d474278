"""The streaming pipeline (B5 streaming twin) and windowed operators
(E1–E5) — SURVEY.md §2.E and §3.1's lifecycle, Spark-first:

reference consumer loop (auto_kafka_redis.py:320-408)   →  here
---------------------------------------------------------------------
manual offset restore + commit (:231-270, :398-405)     →  checkpointLocation WAL
per-event SETNX dedup w/ 60 s TTL (:332-346)            →  withWatermark + dropDuplicatesWithinWatermark
per-user INCR/EXPIRE rate limit (:348-366)              →  JVM flatMapGroupsWithState keyed by user_id (streaming/RateLimit.java)
32-event Redis pipeline flush (:368-396)                →  micro-batch foreachBatch sink
SET event:{id} + PUBLISH events (:372-374)              →  keyed upsert store + alert/notify sink

Every operator here runs a REAL streaming query; the bounded variants
(file source + availableNow trigger + memory sink) let the driver
oracle-check streaming execution against DuckDB.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from eventstream_notify_spark.registry import register
from eventstream_notify_spark.sources.events import file_events_stream
from eventstream_notify_spark.streaming.state import rate_limit_stream

# arrival-time range buckets for the lateness audit's frontier
# (bucket-prefix pattern; matches _CONC_BUCKETS' order of magnitude —
# enough parallelism for any executor count, small enough that the
# per-bucket offset table broadcasts for free)
_LATENESS_BUCKETS = 64

# bounded-run scratch dirs (parquet sink output, checkpoints): the
# returned DataFrames read the output dirs LAZILY, so they cannot be
# removed at return time — a long bench session would otherwise
# accumulate data-sized temp dirs with no cleanup path. Swept at
# process exit.
_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


@atexit.register
def _sweep_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


def run_bounded_files(stream_df: DataFrame) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into a
    temp PARQUET sink and return the result re-read as a batch frame.

    Use this instead of :func:`run_bounded` whenever the stream's
    output volume is DATA-sized rather than result-sized: the memory
    sink materializes every emitted row on the DRIVER heap, which is
    fine for windowed aggregates but fatal for event streams — the
    streaming minhash pair stream emits 11.2M pair events at sf0.1,
    and collecting them into the memory sink was measured as the
    bench-killing driver OOM (61 downstream queries dead) that the
    kernel itself was wrongly blamed for. A file sink writes from the
    executors, exactly like production would."""
    out = _scratch_dir("sink_out_")
    ckpt = _scratch_dir("sink_ckpt_")
    query = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        stream_df.sparkSession.read.schema(stream_df.schema).parquet(out)
    )


def run_bounded(
    stream_df: DataFrame, name: str | None = None, output_mode: str = "append"
) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into a
    memory sink; return the materialized result as a batch DataFrame.
    This is the test/driver harness — production uses start_pipeline.

    Windowed aggregations should pass ``output_mode='complete'``: in
    append mode the trailing windows (not yet passed by the watermark
    at end-of-stream) are never emitted."""
    table_name = name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = _scratch_dir(f"ckpt_{table_name}_")
    query = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(table_name)


def streaming_dedup(events: DataFrame, ttl: str = "60 seconds") -> DataFrame:
    """B1 streaming — TTL dedup: the watermark IS the TTL (state for
    ids older than the watermark is GC'd, exactly the Redis EXPIRE
    semantics, auto_kafka_redis.py:334-339)."""
    return events.withWatermark("ts", ttl).dropDuplicatesWithinWatermark(["event_id"])


def start_pipeline(
    events: DataFrame,
    checkpoint_dir: str,
    sink,
    ttl: str = "60 seconds",
    rate_limit: int = 5,
    rate_window_s: int = 60,
    available_now: bool = False,
):
    """Production shape of the full pipeline: dedup → stateful rate
    limit → foreachBatch sink (keyed upsert + notifications), with
    exactly-once bookkeeping via the checkpoint WAL. Returns the
    running StreamingQuery (bounded when available_now).

    Stateful partitions: both stateful operators get
    ``min(spark.sql.shuffle.partitions, defaultParallelism)``
    partitions. Every partition opens and commits one state store and
    runs one limiter task per trigger, so partitions beyond the cores
    only add fixed per-trigger cost (the batch default of 32 on a
    4-core host meant 64 store commits a trigger instead of 8). The
    count is read once, at a checkpoint's first start, and Spark pins
    it in the offset log from then on; a restart keeps the recorded
    count whatever the session says. Under dynamic allocation the cap
    reflects the executors registered at that first start. The setting
    is scoped to ``start()`` (the query runs on a clone of the session
    taken there): the caller's session keeps its own value.

    A checkpoint written by an earlier rate limiter (the pandas
    limiter keyed by user shard, or the one keyed by ``user_id``
    before it) cannot be restarted: the operator, its key and its
    state schema differ, and Spark refuses it with a state-schema
    error such as ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE`` (see
    ``rate_limit_stream``). Start such a pipeline on a new
    checkpoint directory; there is no migration.

    Late rows: both stateful operators drop rows at or below the
    previous trigger's watermark -- ``dropDuplicatesWithinWatermark``
    first, then the limiter's own late-row filter, which Spark runs
    under its event-time timeout."""
    admitted = rate_limit_stream(
        streaming_dedup(events, ttl),
        limit=rate_limit,
        window_s=rate_window_s,
        watermark=None,  # dedup already declared the event-time watermark
    )
    writer = (
        admitted.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    spark = events.sparkSession
    key = "spark.sql.shuffle.partitions"
    caller = spark.conf.get(key)
    cap = min(int(caller), spark.sparkContext.defaultParallelism)
    spark.conf.set(key, str(cap))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, caller)


def notify_sink(store, alert_store):
    """Compose the notification fan-out into the micro-batch sink: the
    reference's flush does SET event:{id} + PUBLISH per accepted event
    (auto_kafka_redis.py:370-380); ours lands the batch in the keyed
    store AND evaluates the alert rules, landing fired notifications
    in a second keyed store (the 'channel'). Both writes are
    epoch-idempotent, so the composition stays exactly-once."""
    from eventstream_notify_spark.operators.alerts import apply_rules

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            store.upsert_batch(batch_df, epoch_id)
            fired = apply_rules(batch_df, extra_cols=("ts",))
            alert_store.upsert_batch(
                fired.withColumn(
                    "alert_id",
                    F.concat_ws("-", F.col("rule_id"), F.col("event_id")),
                ),
                epoch_id,
            )
        finally:
            batch_df.unpersist()

    return sink


# ----------------------------------------------------------- E-series


@register(
    "stream_tumbling",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — tumbling-window counts (C4's streaming twin), executed as
    a real streaming query with watermark + window, then materialized.
    Bounded input ⇒ equals the batch answer, so it oracle-checks."""
    src = file_events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"), "cnt"
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "stream_sliding",
    oracle="""
    WITH slides AS (
        SELECT e.event_id, s.window_start_us
        FROM (SELECT event_id, epoch_us(ts) AS ts_us FROM events) e
        JOIN (
            SELECT DISTINCT (epoch_us(ts) // 1800000000) * 1800000000
                   - (3600000000 - 1800000000) * x.i AS window_start_us
            FROM events, (VALUES (0), (1)) x(i)
        ) s
          ON e.ts_us >= s.window_start_us
         AND e.ts_us <  s.window_start_us + 3600000000
    )
    SELECT window_start_us, COUNT(*) AS cnt
    FROM slides
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — sliding windows (1 h length, 30 min slide): each event
    lands in 2 overlapping windows — the true shape of the reference's
    'rate over trailing window' (B2). Streaming-executed; the oracle
    reconstructs slide assignment relationally."""
    src = file_events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"), "cnt"
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "stream_session",
    oracle="""
    WITH ordered AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800000000
                    OR lag(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts_us,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM ordered
    )
    SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — gap-based session windows per user (30 min gap), the
    generalized 'user activity' view of the dashboard. Streaming
    session_window; oracle = gaps-and-islands SQL."""
    src = file_events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "stream_late_data",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts) = 1
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — watermarked streaming dedup (dropDuplicatesWithinWatermark):
    the TTL-state + late-data machinery executed for real. On the
    bounded single-file input nothing falls past the watermark, so the
    result equals batch dedup (the multi-batch late/out-of-order drop
    behavior is pinned by tests/test_streaming.py)."""
    src = file_events_stream(spark, sf_dir)
    out = streaming_dedup(src).select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id"
    )
    return run_bounded(out)


@register(
    "stream_join_interval",
    extra=True,
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           CAST(MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT)
               AS min_lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <  c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-series extension — STREAM-STREAM interval join (the hardest
    Structured Streaming shape): clicks joined to purchases of the
    same user within the following 30 minutes, both sides watermarked
    so the join state is bounded (click state can be dropped once the
    watermark passes click_ts + 30 min — exactly the condition Spark
    derives from the time-range predicate). Bounded replay ⇒ equals
    the batch interval join, so it oracle-checks exactly.

    Stream-stream joins emit ONLY in append mode (inner-join rows are
    final the moment they match, so append is complete here); the
    per-user rollup runs as a batch aggregation over the materialized
    join output."""
    src = file_events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    pairs = run_bounded(
        joined.select(
            "c_user", F.unix_micros("p_ts") - F.unix_micros("c_ts")
        ).toDF("user_id", "lag_us")
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.min("lag_us").alias("min_lag_us"),
    )


def _foreach_sink_oracle() -> str:
    """DuckDB twin of the anchored-window pipeline: the stateful rate
    limiter's recurrence (anchor at the first event, admit the first
    5 rows with ts < anchor + W ordered by (ts, event_id), re-anchor
    at the first event past the window) is a per-user recursive CTE
    over the anchor chain. Dedup and the keyed upsert are identity on
    the testdata (event_id is unique), so the compacted store equals
    the admitted set — same batch-oracle pattern the other stateful
    kernels (stream_ewma / stream_cusum_alert / stream_rolling_median)
    already share."""
    from eventstream_notify_spark.operators.events import (
        DEMO_WINDOW_S,
        RATE_LIMIT_COUNT,
    )

    w_us = DEMO_WINDOW_S * 1_000_000
    return f"""
    WITH RECURSIVE ev AS (
      SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             value, props
      FROM events
    ),
    anchors AS (
      SELECT user_id, MIN(ts_us) AS anchor FROM ev GROUP BY user_id
      UNION ALL
      SELECT a.user_id,
             (SELECT MIN(e.ts_us) FROM ev e
              WHERE e.user_id = a.user_id
                AND e.ts_us >= a.anchor + {w_us}) AS anchor
      FROM anchors a
      WHERE EXISTS (SELECT 1 FROM ev e
                    WHERE e.user_id = a.user_id
                      AND e.ts_us >= a.anchor + {w_us})
    )
    SELECT e.event_id, e.ts_us, e.user_id, e.event_type, e.value,
           e.props
    FROM ev e JOIN anchors a
      ON e.user_id = a.user_id
     AND e.ts_us >= a.anchor AND e.ts_us < a.anchor + {w_us}
    QUALIFY row_number() OVER (
      PARTITION BY e.user_id, a.anchor
      ORDER BY e.ts_us, e.event_id) <= {RATE_LIMIT_COUNT}
    """


@register("stream_foreach_sink", oracle=_foreach_sink_oracle())
def stream_foreach_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — the COMPLETE streaming pipeline: file-replayed stream →
    watermark dedup → first-event-anchored stateful rate limiter →
    foreachBatch keyed-upsert sink (micro-batch = the reference's
    32-event Redis pipeline flush, auto_kafka_redis.py:368-396).
    Returns the final compacted store, projected to ts_us so the
    anchored-window recursive-CTE oracle (above) hash-checks it —
    deterministic because the bounded single-file replay folds each
    user's group in (ts, event_id) order, exactly the recurrence the
    CTE unrolls."""
    import tempfile

    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    store = ParquetKeyedStore(tempfile.mkdtemp(prefix="keyed_store_"))
    src = file_events_stream(spark, sf_dir)
    q = start_pipeline(
        src,
        tempfile.mkdtemp(prefix="ckpt_pipeline_"),
        store.upsert_batch,
        rate_window_s=86400,
        available_now=True,
    )
    q.awaitTermination()
    return store.compacted(spark).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


@register(
    "stream_static_enrich",
    extra=True,
    oracle="""
    SELECT (epoch_us(e.ts) // 3600000000) * 3600000000 AS window_start_us,
           n.n_name,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment — the canonical streaming dimension
    join: the event stream joins the static customer→nation dimension
    (broadcast; re-resolvable per micro-batch, which is how slowly
    changing dims refresh in Structured Streaming) and aggregates
    value per (hour window, nation). Bounded replay equals the batch
    join exactly, so it oracle-checks; the value sum accumulates in
    DECIMAL for partition-order independence."""
    from eventstream_notify_spark.catalog import table

    dim = F.broadcast(
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    src = file_events_stream(spark, sf_dir)
    agg = (
        src.join(dim, src.user_id == dim.c_custkey)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("n_name"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_name",
            "cnt",
            "sum_value",
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "stream_join_interval_outer",
    extra=True,
    oracle="""
    WITH cutoff AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'click'),
            (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
        ) - 5460000000 AS max_ok
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'
          AND epoch_us(ts) < (SELECT max_ok FROM cutoff)),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_matched,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched
    FROM c
    LEFT JOIN p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def stream_join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-series extension — stream-stream LEFT OUTER interval join:
    like ``stream_join_interval`` but clicks with NO purchase inside
    the 30-minute window also emit (null-padded) once the watermark
    proves no match can still arrive — THE feature that needs join
    state with timeout semantics, not just buffering.

    Bounded-replay caveat handled explicitly: an unmatched click is
    emitted only once the global watermark — the MIN over both
    branches' (max event time − 1 h) — passes click_ts + 30 min, so
    the replay tail has UNDEFINED outer results. Both the streaming
    query and the oracle therefore restrict to clicks older than
    min(max click, max purchase) − 91 min (1 min of slack over the
    theoretical 90 covers the engine's ms-truncated watermark). The
    cutoff filter runs AFTER the join, batch-side: filtering the
    click stream itself would LOWER its watermark (watermarks track
    the filtered stream) and stall eviction 90 minutes short of the
    cutoff — the first draft of this operator had exactly that bug.
    The cutoff derives from the same table on both sides, so parity
    is exact; every click before it is provably resolved."""
    from eventstream_notify_spark.catalog import table

    ev = table(spark, sf_dir, "events")
    # the cutoff rides in as a broadcast 1-row frame on the BATCH side
    # of the result — no driver action in the operator path
    cutoff = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("m"))
        .agg((F.min("m") - F.lit(5_460_000_000)).alias("cutoff_us"))  # 91 min
    )
    src = file_events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    pairs = (
        run_bounded(joined.select("c_user", "c_ts", "p_ts"))
        .crossJoin(F.broadcast(cutoff))
        .filter(F.unix_micros("c_ts") < F.col("cutoff_us"))
    )
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count("*").alias("n_clicks"),
        F.sum(F.col("p_ts").isNotNull().cast("bigint")).alias("n_matched"),
        F.sum(F.col("p_ts").isNull().cast("bigint")).alias("n_unmatched"),
    )


@register(
    "stream_session_dynamic",
    extra=True,
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN event_type = 'purchase' THEN 3600000000
                    ELSE 1800000000 END AS gap_us
        FROM events
    ),
    marked AS (
        SELECT user_id, ts_us, gap_us,
               CASE WHEN MAX(ts_us + gap_us) OVER (
                        PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) > ts_us THEN 0 ELSE 1 END AS is_new
        FROM ev
    ),
    sess AS (
        SELECT user_id, ts_us,
               SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, MIN(ts_us) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, session_no
    """,
)
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-series extension — session windows with a DYNAMIC per-event
    gap: a purchase keeps the session alive for 1 h, anything else
    30 min (the 'checkout grace period' shape). Spark's
    session_window accepts a gap EXPRESSION — each event extends its
    session to [ts, ts+gap(event)) and overlapping windows merge.
    The oracle reconstructs that semantics relationally: an event
    starts a new session iff the running max of (prior ts + prior
    gap) does not reach it — gaps-and-islands with a running-max
    frontier instead of a fixed lag threshold. Bounded replay ⇒
    exact. Events at these timestamps are unique per user (pinned by
    the data), so the µs ordering is total and the windows are
    deterministic."""
    src = file_events_stream(spark, sf_dir)
    # session_window's gap expression must be CalendarIntervalType —
    # INTERVAL literals parse as DayTimeIntervalType, so build the
    # branches with make_interval
    gap = F.when(
        F.col("event_type") == "purchase",
        F.expr("make_interval(0, 0, 0, 0, 0, 60, 0)"),
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            "n_events",
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "stream_topk_windowed",
    extra=True,
    oracle="""
    WITH counts AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start_us, event_type, cnt
    FROM counts
    QUALIFY row_number() OVER (
        PARTITION BY window_start_us ORDER BY cnt DESC, event_type
    ) <= 2
    """,
)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection — top-2 event types per hour window. Rank
    is not a streaming-supported operation (it would retract), so the
    pattern is: STREAMING windowed count (incremental, watermarked)
    → batch windowed rank over the materialized counts. This split
    is the production shape too: the expensive incremental state is
    the count; the rank is a cheap view over it."""
    src = file_events_stream(spark, sf_dir)
    counts = run_bounded(
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "cnt",
        ),
        output_mode="complete",
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("window_start_us").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


@register(
    "stream_dau",
    extra=True,
    oracle="""
    SELECT epoch_us(ts) // 86400000000 AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
    """,
)
def stream_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING daily distinct actives — the live counterpart of
    zx_sliding_dau's per-day leg and the dashboard's 'users' counter
    (C3) held exactly per event-time day: a streaming HOLISTIC
    aggregate (COUNT DISTINCT does not partial-merge as a count, so
    the state is the per-day user set, exactly what the batch
    first-appearance identity avoids). State is bounded by |users| x
    |days| set entries; at production cardinalities the sketch tier
    (zx_sliding_dau_hll's HLL union) replaces the exact set — this op
    is the exact-spec anchor the sketch is audited against. Bounded
    replay equals the batch per-day distinct count, so it
    oracle-checks."""
    src = file_events_stream(spark, sf_dir)
    agg = (
        src.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.collect_set("user_id").alias("us"))
    )
    return run_bounded(agg, output_mode="complete").select(
        "day", F.size("us").cast("bigint").alias("dau")
    )


@register(
    "stream_agg_chain",
    extra=True,
    oracle="""
    WITH m AS (
        SELECT (epoch_us(ts) // 60000000) * 60000000 AS w_us,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    cutoff AS (
        SELECT MAX(epoch_us(ts)) - 120000000 AS max_ok FROM events
    )
    SELECT (w_us // 3600000000) * 3600000000 AS hour_us, event_type,
           CAST(MAX(n) AS BIGINT) AS max_minute_n,
           CAST(SUM(n) AS BIGINT) AS total_n
    FROM m
    GROUP BY 1, 2
    HAVING (w_us // 3600000000) * 3600000000 + 3600000000
           <= (SELECT max_ok FROM cutoff)
    """,
)
def stream_agg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in ONE streaming query — the
    multi-stateful-operator pipeline Spark 3.4+ unlocked: per-minute
    counts per event type (first stateful agg) roll up into per-hour
    max/total (second stateful agg over the window column), both
    running inside the same micro-batch engine with one watermark
    cascading through. Pre-3.4 engines force a materialization
    between the two; this is the native replacement, and at 100 TB
    it saves a full intermediate sink + re-read.

    Append mode only emits FINALIZED hour windows (watermark past
    window end), so the batch-side finalization filter keeps hours
    whose end precedes max(ts) by at least watermark delay + one
    minute of slack — applied identically on the oracle side
    (cookbook: filter AFTER the stateful ops, never the stream)."""
    src = file_events_stream(spark, sf_dir).withWatermark("ts", "60 seconds")
    per_min = src.groupBy(
        F.window("ts", "1 minute").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    per_hour = (
        per_min.groupBy(F.window(F.col("w"), "1 hour").alias("h"), "event_type")
        .agg(
            F.max("n").cast("bigint").alias("max_minute_n"),
            F.sum("n").cast("bigint").alias("total_n"),
        )
        .select(
            F.unix_micros("h.start").alias("hour_us"),
            "event_type",
            "max_minute_n",
            "total_n",
        )
    )
    res = run_bounded(per_hour, output_mode="append")
    from eventstream_notify_spark.catalog import table

    cutoff = (
        table(spark, sf_dir, "events")
        .agg((F.max(F.unix_micros("ts")) - F.lit(120_000_000)).alias("max_ok"))
    )
    return (
        res.crossJoin(F.broadcast(cutoff))
        .filter(F.col("hour_us") + 3_600_000_000 <= F.col("max_ok"))
        .drop("max_ok")
    )

def _ewma_oracle() -> str:
    from eventstream_notify_spark.operators.timeseries import EWMA_ORACLE

    return EWMA_ORACLE


@register("stream_ewma", extra=True, oracle=_ewma_oracle())
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of zx_ts_ewma: per-user EWMA as a CUSTOM
    STATEFUL operator (applyInPandasWithState) whose state is the
    last 19 quantized values per user — the window a 20-row-lookback
    smoother needs to continue across micro-batches. Because the
    kernel is the exact-integer formulation, the bounded replay
    hash-matches the SAME DuckDB oracle as the batch operator — an
    end-to-end proof that the streaming state machinery reproduces
    batch semantics bit-for-bit, not approximately.

    Scale: state is 19 bigints per active user, watermark-bounded
    with a one-day idle eviction; the only shuffle keys on user_id.
    """
    from eventstream_notify_spark.streaming.state import ewma_stream

    src = file_events_stream(spark, sf_dir)
    return run_bounded(ewma_stream(src))


@register(
    "stream_pit_enrich",
    extra=True,
    oracle="""
    WITH changes AS (
        SELECT user_id, state, ts_us, event_id FROM (
            SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us,
                   event_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
        ) WHERE state <> prev OR prev IS NULL
    ),
    scd AS (
        SELECT user_id, state,
               ts_us AS valid_from_us,
               COALESCE(LEAD(ts_us) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
               ), 253402300800000000) AS valid_to_us
        FROM changes
    ),
    probes AS (
        SELECT user_id, epoch_us(ts) - 3600000000 AS probe_us, value
        FROM events
    )
    SELECT COALESCE(s.state, 'none') AS state_at,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(p.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM probes p LEFT JOIN scd s
      ON p.user_id = s.user_id
     AND p.probe_us >= s.valid_from_us
     AND p.probe_us <  s.valid_to_us
    GROUP BY 1
    """,
)
def stream_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — the feature-store serving
    path: every event on the stream is enriched with the SCD2 state
    that was valid one hour before it, via a PER-MICRO-BATCH join
    against the broadcast interval dimension (equi on user_id + a
    residual containment filter — a BroadcastHashJoin per batch, and
    the dimension re-resolves at every refresh like any slowly
    changing dim in Structured Streaming). Batch twin:
    zx_scd2_point_in_time (union+carry-forward); this is the shape
    you run when the dimension is small enough to broadcast and the
    STREAM is the unbounded side.

    Bounded replay equals the batch interval join exactly, so the
    aggregate (events + decimal value sum per state) oracle-checks.
    """
    from eventstream_notify_spark.catalog import table

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    dim = F.broadcast(
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter((F.col("event_type") != F.col("prev")) | F.col("prev").isNull())
        .select(
            F.col("user_id").alias("d_user"),
            F.col("event_type").alias("state"),
            F.col("ts_us").alias("valid_from_us"),
            F.coalesce(
                F.lead("ts_us").over(w),
                F.lit(253_402_300_800_000_000),
            ).alias("valid_to_us"),
        )
    )
    src = file_events_stream(spark, sf_dir)
    probes = src.select(
        "user_id",
        (F.unix_micros("ts") - 3_600_000_000).alias("probe_us"),
        "value",
    )
    joined = probes.join(
        dim,
        (probes.user_id == dim.d_user)
        & (F.col("probe_us") >= F.col("valid_from_us"))
        & (F.col("probe_us") < F.col("valid_to_us")),
        "left",
    )
    agg = (
        joined.groupBy(F.coalesce("state", F.lit("none")).alias("state_at"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    return run_bounded(agg, output_mode="complete")


@register(
    "watermark_lateness_audit",
    extra=True,
    oracle="""
    WITH delayed AS (
      SELECT event_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) + 1000000 *
                 (CAST(('0x' || substring(
                     md5('arr:' || CAST(event_id AS STRING)), 1, 15))
                     AS UBIGINT) % 120) AS arrival_us
      FROM events
    ),
    arr AS (
      SELECT ts_us,
             MAX(ts_us) OVER (ORDER BY arrival_us, event_id) - ts_us
                 AS late_us
      FROM delayed
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 30000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS dropped_30s,
           CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS dropped_1m,
           CAST(SUM(CASE WHEN late_us > 120000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS dropped_2m,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM arr
    """,
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing audit — the batch analysis you run BEFORE
    choosing withWatermark(): replay events under a deterministic
    arrival-delay model (md5-jittered 0..119 s network delay — the
    testdata generator emits in perfect event-time order, so disorder
    must be simulated to be measurable), track the event-time frontier
    in arrival order, and count how many events each candidate
    watermark (30 s / 1 m / 2 m) would drop. E4 (stream_late_data)
    exercises the drop mechanism; this measures the drop RATE a given
    delay bound implies.

    The frontier is a running max in arrival order — global, so it
    gets the range-bucket prefix treatment (the
    zx_max_concurrent_sessions pattern): fixed-width ARRIVAL-time
    bins off one min/max row, per-bin frontier maxima prefix-maxed on
    the tiny bin table and broadcast back, running max inside each
    bin in parallel vs its bin's prefix. Bucketing by arrival range
    keeps (bucket, arrival_us, event_id) order == global arrival
    order, so the per-bin max OR'd with the strictly-earlier-bin
    prefix max IS the global frontier — and no stage funnels the
    fact through one task. Exact integers end to end.
    """
    from eventstream_notify_spark.catalog import table

    e = table(spark, sf_dir, "events")
    delayed = e.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn(
        "arrival_us",
        F.col("ts_us")
        + 1_000_000
        * (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("arr:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 120
        ),
    )
    lohi = delayed.agg(
        F.min("arrival_us").alias("lo"), F.max("arrival_us").alias("hi")
    ).first()
    lo, hi = int(lohi["lo"]), int(lohi["hi"])
    width = max(1, (hi - lo) // _LATENESS_BUCKETS + 1)
    b = delayed.withColumn(
        "bucket", ((F.col("arrival_us") - lo) / width).cast("bigint")
    )
    # Per-bucket maxima: ≤ _LATENESS_BUCKETS rows regardless of data
    # size, so the prefix max is a bounded driver-side fold turned
    # into a literal lookup — no unpartitioned window anywhere in
    # this plan (the per-bucket running max below partitions by
    # bucket; 64 buckets saturate any executor count).
    bmax = sorted(
        (int(r["bucket"]), int(r["bts"]))
        for r in b.groupBy("bucket").agg(F.max("ts_us").alias("bts")).collect()
    )
    prefix: dict[int, int] = {}
    run = None
    for bk, bts in bmax:
        if run is not None:
            prefix[bk] = run
        run = bts if run is None else max(run, bts)
    sentinel = -(1 << 62)
    bprev = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in prefix.items() for x in kv]
            ),
            F.col("bucket").cast("int"),
        )
        if prefix
        else F.lit(None).cast("bigint")
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    arr = (
        b.withColumn(
            "frontier",
            F.greatest(
                F.max("ts_us").over(w_local),
                F.coalesce(bprev, F.lit(sentinel)),
            ),
        )
        .select((F.col("frontier") - F.col("ts_us")).alias("late_us"))
    )
    return arr.agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("late_us") > 30_000_000).cast("bigint")).alias(
            "dropped_30s"
        ),
        F.sum((F.col("late_us") > 60_000_000).cast("bigint")).alias(
            "dropped_1m"
        ),
        F.sum((F.col("late_us") > 120_000_000).cast("bigint")).alias(
            "dropped_2m"
        ),
        F.max("late_us").alias("max_late_us"),
    )


def _rolling_median_oracle() -> str:
    from eventstream_notify_spark.operators.timeseries import (
        ROLLING_MEDIAN_ORACLE,
    )

    return ROLLING_MEDIAN_ORACLE


@register(
    "stream_rolling_median", extra=True, oracle=_rolling_median_oracle()
)
def stream_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of zx_rolling_median: the per-user 21-row median
    as a CUSTOM STATEFUL operator (applyInPandasWithState, state =
    last 20 quantized values) — the second member of the
    batch-oracle-shared streaming family after zx_stream_ewma.
    Bounded replay hash-matches the SAME DuckDB oracle as the batch
    window operator: streaming state reproduces the batch frame
    bit-for-bit across micro-batch boundaries.

    Scale: 20 bigints of state per active user, watermark + one-day
    idle eviction; one user_id shuffle.
    """
    from eventstream_notify_spark.streaming.state import (
        rolling_median_stream,
    )

    src = file_events_stream(spark, sf_dir)
    return run_bounded(rolling_median_stream(src))


@register(
    "stream_cdc_apply",
    extra=True,
    oracle="""
    WITH last AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             event_type,
             CAST(round(value * 1000) AS BIGINT) AS value_mv,
             ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id, ts_us, value_mv
    FROM last WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog apply — the CDC ingestion shape (Debezium topic →
    lakehouse table): the replayed event stream becomes a changelog
    (error events ⇒ DELETE the user's row, everything else ⇒ UPSERT)
    and lands through CdcKeyedStore's delete-aware MERGE. The final
    state per user is decided by the LAST op — a delete removes the
    key, a later upsert resurrects it — which is exactly what the
    oracle's last-row-per-user filter states declaratively.

    Scale: inherits MergeKeyedStore's bucket-pruned copy-on-write
    (per-epoch cost O(touched buckets), never O(state)); deletes are
    an anti-join on the same bucket-pruned pre-state.
    """
    import tempfile

    from eventstream_notify_spark.streaming.sinks import CdcKeyedStore

    src = file_events_stream(spark, sf_dir).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    store = CdcKeyedStore(tempfile.mkdtemp(prefix="cdc_store_"), key="user_id")
    q = (
        src.writeStream.foreachBatch(store.upsert_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_cdc_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store.current(spark).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1000).cast("bigint").alias("value_mv"),
    )


@register(
    "store_time_travel",
    extra=True,
    oracle="""
    WITH bounds AS (
      SELECT MIN(epoch_us(ts) // 86400000000) AS d0,
             MAX(epoch_us(ts) // 86400000000) AS d1
      FROM events
    ),
    tagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 1000) AS BIGINT) AS value_mv,
             LEAST(2, ((epoch_us(ts) // 86400000000) - b.d0) * 3
                       // (b.d1 - b.d0 + 1)) AS epoch
      FROM events, bounds b
    )
    SELECT user_id, event_id, ts_us, value_mv
    FROM tagged
    WHERE epoch <= 1
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY ts_us DESC, epoch DESC, event_id DESC) = 1
    """,
)
def store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the keyed store's epoch log: events land in
    three chronological epochs (terciles of the day range — three
    'days of ingestion'), and the query reads the state AS OF epoch 1
    — the lakehouse `VERSION AS OF` read, expressed as a
    partition-pruned filter over the immutable epoch partitions (no
    snapshot copies, no extra storage; exactly how table formats
    resolve historical reads from their log). The oracle recomputes
    the same snapshot declaratively: latest row per user among the
    first two epochs' events.

    Scale: the as-of read prunes epoch partitions at the scan; the
    compaction arg-max is the usual one keyed shuffle.
    """
    import tempfile

    from eventstream_notify_spark.catalog import table as _table
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    batch = _table(spark, sf_dir, "events")
    bounds = batch.agg(
        F.min(F.expr("unix_micros(ts) div 86400000000")).alias("d0"),
        F.max(F.expr("unix_micros(ts) div 86400000000")).alias("d1"),
    ).first()
    d0, d1 = int(bounds["d0"]), int(bounds["d1"])
    tagged = batch.withColumn(
        "_ep",
        F.least(
            F.lit(2),
            F.expr(
                f"((unix_micros(ts) div 86400000000) - {d0}) * 3 "
                f"div {d1 - d0 + 1}"
            ),
        ),
    )
    store = ParquetKeyedStore(
        tempfile.mkdtemp(prefix="tt_store_"), key="user_id"
    )
    for ep in (0, 1, 2):
        store.upsert_batch(tagged.filter(F.col("_ep") == ep).drop("_ep"), ep)
    asof = store.compacted(spark, as_of_epoch=1)
    return asof.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1000).cast("bigint").alias("value_mv"),
    )


@register(
    "stream_cep_burst",
    extra=True,
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    err AS (
        SELECT user_id, event_id, ts_us, rn,
               rn - ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY rn
               ) AS grp
        FROM ev WHERE event_type = 'error'
    )
    SELECT user_id, event_id, ts_us
    FROM (
        SELECT user_id, event_id, ts_us,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, grp ORDER BY rn
               ) AS pos_in_run
        FROM err
    )
    WHERE pos_in_run = 3
    """,
)
def stream_cep_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming COMPLEX EVENT PROCESSING (the Flink-CEP shape; third
    member of the batch-oracle-shared stateful family after ewma and
    rolling-median): detect per-user bursts of 3+ consecutive errors
    and alert exactly once per burst, on its 3rd error, WHILE THE
    STREAM RUNS — the notify-rule semantics the reference's dashboard
    implies (auto_kafka_redis.py's event_type alphabet), but pushed
    into the engine as a stateful operator instead of dashboard
    polling. State is a single int per user (the run length at the
    batch boundary), so a burst spanning micro-batches still fires
    exactly once; idle users evict on a 1-day event-time timeout.

    The oracle is the batch gaps-and-islands formulation (island id =
    rn − rn-among-errors; alert = 3rd row of each island) — the
    bounded replay hash-matching it end-to-end proves the streaming
    state machinery reproduces the declarative batch semantics
    exactly. The batch regex twin is zx_cep_pattern_match's
    n_error_burst column; this is its row-level streaming dual."""
    from eventstream_notify_spark.streaming.state import cep_burst_stream

    src = file_events_stream(spark, sf_dir)
    return run_bounded(cep_burst_stream(src))


@register(
    "stream_cep_burst_buffered",
    extra=True,
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    err AS (
        SELECT user_id, event_id, ts_us, rn,
               rn - ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY rn
               ) AS grp
        FROM ev WHERE event_type = 'error'
    )
    SELECT user_id, event_id, ts_us
    FROM (
        SELECT user_id, event_id, ts_us,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, grp ORDER BY rn
               ) AS pos_in_run
        FROM err
    )
    WHERE pos_in_run = 3
    """,
)
def stream_cep_burst_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-event-safe twin of zx_stream_cep_burst: rows buffer in
    state until the watermark passes them, then fold in (ts, event_id)
    order — so in-watermark late events on a genuinely out-of-order
    source produce the SAME alerts as the batch gaps-and-islands
    oracle (tests/test_streaming.py injects the late-arrival case the
    ordered kernel documents as divergent). State per user = run
    counter + the rows between watermark and frontier (bounded by the
    lateness budget, not stream length); a frontier-anchored
    event-time timeout flushes the tail when the watermark stops
    advancing. Zero-lateness watermark here: the bounded single-file
    replay delivers nothing late, so every row folds on the final
    no-data batch and the full replay hash-matches the same oracle as
    the ordered kernel."""
    from eventstream_notify_spark.streaming.state import (
        cep_burst_buffered_stream,
    )

    src = file_events_stream(spark, sf_dir)
    return run_bounded(cep_burst_buffered_stream(src, watermark="0 seconds"))


@register(
    "stream_observe_metrics",
    extra=True,
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
               AS sum_mv,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
               AS BIGINT) AS n_errors
    FROM events
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY — the ``Dataset.observe()`` metrics
    API: named aggregates (row count, value sum, error count) ride
    the streaming query itself and surface per micro-batch in
    StreamingQueryProgress.observedMetrics, with NO second scan and
    no separate metrics job — this is how a production pipeline
    exports throughput/quality counters to its monitoring bus (the
    engine-side answer to the reference dashboard's live counters,
    auto_kafka_redis.py's processed/dropped tallies). The per-batch
    metrics fold driver-side into stream totals, and the oracle
    recomputes them from the table — the hash match proves observed
    metrics are EXACT and lossless across batch boundaries, i.e.
    monitoring you can reconcile against the data.

    Scale: observe() aggregates are partial-agg'd inside each batch's
    existing plan (metric cost ~ a map-side combine); the driver sees
    one tiny row per batch regardless of data volume."""
    import json
    import tempfile

    from eventstream_notify_spark.sources.events import file_events_stream

    src = file_events_stream(spark, sf_dir)
    obs = src.select(
        "event_type",
        F.round(F.col("value") * 1000).cast("bigint").alias("mv"),
    ).observe(
        "pipe_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("mv").alias("sum_mv"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias(
            "n_errors"
        ),
    )
    # recentProgress is a RING BUFFER capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100): a
    # multi-part source + maxFilesPerTrigger could run more batches
    # than that, silently dropping early batches from the fold and
    # breaking the exact-and-lossless claim. Raise the retention far
    # past any bounded replay's batch count before the query starts
    # (production: a StreamingQueryListener accumulating onQueryProgress
    # has no cap at all — the conf keeps this bounded harness simple).
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    q = (
        obs.writeStream.format("noop")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_observe_")
        )
        .start()
    )
    q.awaitTermination()
    totals = {"n_rows": 0, "sum_mv": 0, "n_errors": 0}
    for p in q.recentProgress:
        om = json.loads(p.json).get("observedMetrics", {}).get(
            "pipe_metrics"
        )
        if om:
            for k in totals:
                totals[k] += int(om[k] or 0)
    return spark.createDataFrame(
        [(totals["n_rows"], totals["sum_mv"], totals["n_errors"])],
        "n_rows bigint, sum_mv bigint, n_errors bigint",
    )


def _cusum_oracle() -> str:
    from eventstream_notify_spark.operators.timeseries import (
        CUSUM_ALERT_ORACLE,
    )

    return CUSUM_ALERT_ORACLE


@register("stream_cusum_alert", extra=True, oracle=_cusum_oracle())
def stream_cusum_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of zx_cusum_alert — Page's CUSUM as a CUSTOM
    STATEFUL operator (applyInPandasWithState, state = 3 bigints per
    user), third member of the batch-oracle-shared streaming family
    (after zx_stream_ewma and zx_stream_rolling_median): the bounded
    replay hash-matches the SAME DuckDB oracle as the batch windows,
    proving the cross-batch state carry reproduces the closed-form
    prefix algebra bit-for-bit. The production shape of 'alert me
    when a user's value level shifts' — one alert per excursion, not
    per event.

    Scale: 3 bigints per active user, event-time idle eviction after
    one day; the only shuffle keys on user_id."""
    from eventstream_notify_spark.streaming.state import cusum_alert_stream

    src = file_events_stream(spark, sf_dir)
    return run_bounded(cusum_alert_stream(src))


@register(
    "stream_absence_alert",
    extra=True,
    oracle="""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    )
    SELECT user_id,
           prev_us AS gap_start_us,
           ts_us AS gap_end_us,
           ts_us - prev_us AS gap_us
    FROM seq
    WHERE ts_us - prev_us > 172800000000
      -- gaps past the 30-day state TTL are structurally
      -- unobservable (eviction; see ABSENCE_TTL_US) — the kernel
      -- drops them, so the oracle must too
      AND ts_us - prev_us <= 2592000000000
    """,
)
def stream_absence_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSENCE DETECTION — the CEP pattern the burst family can't
    express: alert on events that DIDN'T happen (a device heartbeat
    going silent, a daily feed not arriving). Per-user stateful
    kernel (state = last event time, one bigint) emits the silence
    interval retrospectively when the next event closes it — the
    deterministic formulation; wall-clock timers would fire
    differently per run. The E4 complement: late-data handling keeps
    state for stragglers, this operator reports the straggling
    itself.

    Oracle-paired: retrospective gaps are exactly LAG() in event-time
    order, so the bounded replay hash-matches a 3-line window SQL —
    the streaming state machinery against a batch-relational twin.

    Scale: one user-key shuffle into the state store, 8 bytes of
    state per active user, 30-day event-time idle eviction (the
    family's standard TTL posture)."""
    from eventstream_notify_spark.streaming.state import absence_stream

    src = file_events_stream(spark, sf_dir)
    return run_bounded(absence_stream(src))
