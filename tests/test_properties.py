"""Property-based tests (SURVEY §5.2 #4): invariants that must hold
for arbitrary event streams, via hypothesis over small generated
frames (examples kept low — each case is a Spark job)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from eventstream_notify_spark.operators import events as ops

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # event_id (collisions likely)
        st.integers(min_value=0, max_value=600),  # seconds offset
        st.integers(min_value=0, max_value=4),  # user_id
    ),
    min_size=0,
    max_size=60,
)


def make_df(spark, rows):
    data = [
        (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s),
            u,
            "click",
            1.0,
            '{"k": 1}',
        )
        for i, s, u in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


@given(rows=events_strategy)
@_settings
def test_dedup_idempotent_and_key_unique(spark, rows):
    df = make_df(spark, rows)
    once = ops.first_per_key(df, ["event_id"], [F.col("ts"), F.col("user_id")])
    got = once.collect()
    # one row per distinct id, and f(f(x)) == f(x)
    assert len(got) == len({r for r, *_ in rows})
    twice = ops.first_per_key(once, ["event_id"], [F.col("ts"), F.col("user_id")])
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, got))


@given(rows=events_strategy)
@_settings
def test_rate_limit_cardinality_bound(spark, rows):
    df = make_df(spark, rows)
    out = ops.rate_limit(df, window_s=60, limit=5).collect()
    # per (user, window) at most 5; output is a subset of input
    per_bucket: dict[tuple, int] = {}
    for r in out:
        bucket = (r.user_id, int(r.ts.timestamp()) // 60)
        per_bucket[bucket] = per_bucket.get(bucket, 0) + 1
    assert all(v <= 5 for v in per_bucket.values())
    in_keys = {(i, u) for i, _, u in rows}
    assert all((r.event_id, r.user_id) in in_keys for r in out)


@given(rows=events_strategy)
@_settings
def test_pipeline_counts_invariant_under_permutation(spark, rows):
    df1 = make_df(spark, rows)
    df2 = make_df(spark, list(reversed(rows)))
    out1 = sorted(map(tuple, ops.events_pipeline(df1, window_s=60).collect()))
    out2 = sorted(map(tuple, ops.events_pipeline(df2, window_s=60).collect()))
    assert out1 == out2


def test_global_rank_and_ntile_match_single_window(spark):
    """functions/ranking.py must be BIT-IDENTICAL to the single-
    partition window forms it replaces, including duplicate keys,
    negative keys (DESC via negation), skewed bucket occupancy, and
    n not divisible by k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from eventstream_notify_spark.functions.ranking import (
        global_ntile,
        global_row_number,
    )

    # 997 rows, heavily skewed into few distinct keys + a long tail
    df = spark.range(997).select(
        F.col("id"),
        (
            F.when(F.col("id") % 3 == 0, F.lit(5))
            .when(F.col("id") % 7 == 0, -(F.col("id") % 11))
            .otherwise(F.col("id") % 251)
        ).alias("k"),
    )
    ranked, n = global_row_number(df, "k", ["id"], out="pos", buckets=8)
    assert n == 997
    want = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy("k", "id"))
        .alias("pos"),
    )
    got = {(r.id, r.pos) for r in ranked.select("id", "pos").collect()}
    assert got == {(r.id, r.pos) for r in want.collect()}

    for k in (5, 10, 997, 2000):
        tiled = global_ntile(df, k, "k", ["id"], out="t", buckets=8)
        wantn = df.select(
            "id", F.ntile(k).over(Window.orderBy("k", "id")).alias("t")
        )
        gotn = {(r.id, r.t) for r in tiled.select("id", "t").collect()}
        assert gotn == {(r.id, r.t) for r in wantn.collect()}, f"k={k}"


def test_results_invariant_to_shuffle_partition_count(spark, sf_dir):
    """Exact queries must produce identical results regardless of
    parallelism — the cross-partitioning determinism the oracle gate
    can't see (it always runs one configuration). Covers the repo's
    determinism disciplines: decimal/integer accumulation, rounded
    scores with tie-breaks, and the bucket-prefix global ranks."""
    from eventstream_notify_spark.registry import queries

    qs = queries()
    names = ["agg_hash", "sim_search_cosine", "zx_rfm_segments",
             "zx_feature_binning", "zx_global_median_exact"]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                rows = frozenset(
                    tuple(r) for r in qs[n](spark, sf_dir).collect()
                )
                if n in results:
                    assert results[n] == rows, (
                        f"{n} differs between 5 and 32 shuffle partitions"
                    )
                results[n] = rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_streaming_state_is_bounded_by_eviction(spark, sf_dir, tmp_path):
    """The 100 TB streaming claim is bounded state: after a full
    replay through the pipeline, the rate limiter's state store holds
    only the users whose window the final watermark has not passed --
    at most the users with an event at or after max(ts) - (ttl +
    window) -- and the dedup store far fewer rows than events — NOT
    one per event. Asserted from the engine's own stateOperators
    progress metrics."""
    from pyspark.sql import functions as F

    from eventstream_notify_spark.catalog import table
    from eventstream_notify_spark.sources.events import file_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline

    n_users = table(spark, sf_dir, "events").select("user_id").distinct().count()
    n_events = table(spark, sf_dir, "events").count()
    seen = {}

    def sink(batch_df, epoch_id):
        batch_df.count()

    q = start_pipeline(
        file_events_stream(spark, sf_dir),
        str(tmp_path / "ckpt"),
        sink,
        available_now=True,
    )
    q.awaitTermination()
    progress = q.lastProgress
    states = progress["stateOperators"]
    assert states, "no stateful operators reported"
    for op in states:
        total = op["numRowsTotal"]
        # dedup state is watermark-bounded (recent events only): far
        # below one-row-per-event
        assert total <= n_users + n_events * 0.2, (
            f"{op['operatorName']}: {total} state rows for "
            f"{n_events} events / {n_users} users — eviction broken?"
        )
    limiter = [
        op for op in states if op["operatorName"] == "flatMapGroupsWithState"
    ]
    assert len(limiter) == 1
    # start_pipeline's defaults: a 60 s ttl (the watermark delay) and
    # 60 s windows
    events = table(spark, sf_dir, "events")
    horizon = events.select(
        F.max("ts") - F.expr("INTERVAL 120 SECONDS")
    ).first()[0]
    open_users = (
        events.where(F.col("ts") >= horizon)
        .select("user_id").distinct().count()
    )
    assert limiter[0]["numRowsTotal"] <= open_users
