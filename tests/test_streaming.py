"""Streaming-semantics tests: multi-batch behavior the bounded oracle
runs can't observe — cross-batch TTL dedup, late-data handling,
first-event-anchored rate limiting (the '25-invariant'), exactly-once
checkpoint recovery, idempotent epoch overwrite (SURVEY §5.2 items
3-5)."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from eventstream_notify_spark.streaming.pipeline import (
    run_bounded,
    start_pipeline,
    streaming_dedup,
)
from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore
from eventstream_notify_spark.streaming.state import rate_limit_stream

SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def ev(i, ts_s, uid, value=1.0):
    return (
        i,
        dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts_s),
        uid,
        "click",
        value,
        '{"k": 1}',
    )


def write_batch(spark, path, rows, batch_no):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, f"batch_{batch_no}")
    )


def stream_from(spark, path):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def test_streaming_dedup_across_batches(spark, tmp_path):
    path = str(tmp_path / "src")
    # batch files are discovered in one availableNow run but processed
    # as separate micro-batches (maxFilesPerTrigger=1) -> dedup state
    # must carry across batches
    write_batch(spark, path, [ev(1, 0, 1), ev(2, 1, 1)], 0)
    write_batch(spark, path, [ev(1, 5, 1), ev(3, 6, 1)], 1)  # dup id=1
    out = run_bounded(streaming_dedup(stream_from(spark, path), ttl="10 minutes"))
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3]


def test_stateful_rate_limit_25_invariant(spark, tmp_path):
    path = str(tmp_path / "src")
    rows = [ev(u * 1000 + i, i, u) for u in range(5) for i in range(40)]
    write_batch(spark, path, rows, 0)
    out = run_bounded(
        rate_limit_stream(stream_from(spark, path), limit=5, window_s=60)
    )
    assert out.count() == 25  # 5 users x 5 admitted
    per_user = out.groupBy("user_id").count().collect()
    assert all(r["count"] == 5 for r in per_user)


def test_stateful_rate_limit_anchored_window(spark, tmp_path):
    # Redis semantics: window anchors at FIRST event, not epoch
    # boundaries. Events at t=50..54 (5 admitted), t=55..59 dropped,
    # t=111 admitted (first window [50,110) expired).
    path = str(tmp_path / "src")
    rows = [ev(i, 50 + i, 1) for i in range(10)] + [ev(99, 111, 1)]
    write_batch(spark, path, rows, 0)
    out = run_bounded(
        rate_limit_stream(stream_from(spark, path), limit=5, window_s=60)
    )
    kept = sorted(r.event_id for r in out.collect())
    assert kept == [0, 1, 2, 3, 4, 99]


SHUFFLE = "spark.sql.shuffle.partitions"


@contextlib.contextmanager
def shuffle_partitions(spark, n):
    prev = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, str(n))
    try:
        yield
    finally:
        spark.conf.set(SHUFFLE, prev)


def state_instances(q):
    """numStateStoreInstances of every stateful operator, over every
    progress the query reported."""
    return {
        op["numStateStoreInstances"]
        for p in q.recentProgress
        for op in json.loads(p.json)["stateOperators"]
    }


@pytest.mark.parametrize("above_cores", [True, False])
def test_pipeline_state_partitions_capped_at_cores(spark, tmp_path, above_cores):
    """start_pipeline sizes its state to min(shuffle partitions,
    defaultParallelism) -- a setting above the cores is capped, a lower
    one (1) is honoured -- and the caller's session keeps its own
    value."""
    cores = spark.sparkContext.defaultParallelism
    conf = cores + 3 if above_cores else 1
    src_path = str(tmp_path / "src")
    write_batch(spark, src_path, [ev(1, 0, 1), ev(2, 1, 2), ev(3, 2, 3)], 0)
    store = ParquetKeyedStore(str(tmp_path / "store"))
    with shuffle_partitions(spark, conf):
        q = start_pipeline(
            stream_from(spark, src_path),
            str(tmp_path / "ckpt"),
            store.upsert_batch,
            available_now=True,
        )
        q.awaitTermination()
        assert spark.conf.get(SHUFFLE) == str(conf)
    assert state_instances(q) == {min(conf, cores)}
    ids = sorted(r.event_id for r in store.compacted(spark).collect())
    assert ids == [1, 2, 3]


def test_pipeline_checkpoint_recovery_no_reprocessing(
    spark, tmp_path, monkeypatch
):
    """Kill-and-restart: a second run over the same checkpoint must not
    re-emit already-committed events (the reference's seek-to-stored+1,
    auto_kafka_redis.py:261-270 — ours via the checkpoint WAL). The
    checkpoint is first started as if on a host with more cores than
    this one: the restart keeps the state partition count recorded in
    the offset log, not this host's cap."""
    src_path = str(tmp_path / "src")
    store = ParquetKeyedStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    cores = spark.sparkContext.defaultParallelism
    first = cores + 3
    write_batch(spark, src_path, [ev(1, 0, 1), ev(2, 1, 2)], 0)
    with monkeypatch.context() as m, shuffle_partitions(spark, first):
        m.setattr(
            type(spark.sparkContext),
            "defaultParallelism",
            property(lambda _: first),
        )
        q = start_pipeline(
            stream_from(spark, src_path), ckpt, store.upsert_batch,
            available_now=True,
        )
        q.awaitTermination()
    assert state_instances(q) == {first}
    first_epochs = {r._epoch for r in store.log(spark).select("_epoch").collect()}

    # new data arrives; restart from the same checkpoint
    write_batch(spark, src_path, [ev(3, 2, 1)], 1)
    q2 = start_pipeline(
        stream_from(spark, src_path), ckpt, store.upsert_batch, available_now=True
    )
    q2.awaitTermination()
    assert state_instances(q2) == {first}

    compacted = store.compacted(spark)
    assert sorted(r.event_id for r in compacted.collect()) == [1, 2, 3]
    # old epochs were not rewritten (no reprocessing of committed data)
    log = store.log(spark)
    assert log.count() == 3
    new_epochs = {r._epoch for r in log.select("_epoch").collect()}
    assert first_epochs < new_epochs


def test_pipeline_drops_late_rows_before_the_limiter(spark, tmp_path):
    """The pipeline drops late rows before they are rate limited (its
    dedup, then the limiter's own late filter). Three one-file
    triggers with a 10 s watermark: 100 s, then 101 s, then {90.5 s,
    89 s, 102 s}. The third trigger's late filter uses the previous
    trigger's watermark (90 s): 89 s is dropped, 90.5 s is admitted
    although the limiter's eviction watermark is already 91 s."""
    src_path = str(tmp_path / "src")
    write_batch(spark, src_path, [ev(1, 100, 1)], 0)
    write_batch(spark, src_path, [ev(2, 101, 2)], 1)
    write_batch(spark, src_path, [ev(3, 90.5, 3), ev(4, 89, 4), ev(5, 102, 5)], 2)
    admitted = []

    def sink(batch_df, epoch_id):
        admitted.extend(r.event_id for r in batch_df.collect())

    q = start_pipeline(
        stream_from(spark, src_path), str(tmp_path / "ckpt"), sink,
        ttl="10 seconds", available_now=True,
    )
    q.awaitTermination()
    assert sorted(admitted) == [1, 2, 3, 5]


def test_keyed_store_epoch_overwrite_idempotent(spark, tmp_path):
    """A replayed micro-batch (same epoch id) overwrites itself —
    the exactly-once guarantee of the sink."""
    store = ParquetKeyedStore(str(tmp_path / "store"))
    df = spark.createDataFrame([ev(1, 0, 1, value=1.0)], SCHEMA)
    store.upsert_batch(df, 7)
    store.upsert_batch(df, 7)  # replay
    assert store.log(spark).count() == 1
    assert store.compacted(spark).first().value == 1.0


def test_keyed_store_latest_wins(spark, tmp_path):
    store = ParquetKeyedStore(str(tmp_path / "store"))
    df1 = spark.createDataFrame([ev(1, 0, 1, value=1.0)], SCHEMA)
    df2 = spark.createDataFrame([ev(1, 60, 1, value=2.0)], SCHEMA)
    store.upsert_batch(df1, 0)
    store.upsert_batch(df2, 1)
    assert store.compacted(spark).first().value == 2.0


def test_rate_source_generator_runs(spark):
    from eventstream_notify_spark.sources.events import rate_events_stream

    # the rate source never terminates, so assert plan properties only
    df = rate_events_stream(spark)
    assert df.isStreaming
    assert set(df.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props"
    }


def test_parse_wire_events_corrupt_path(spark):
    from eventstream_notify_spark.sources.events import parse_wire_events

    raw = spark.createDataFrame(
        [
            ('{"id": 1, "value": "event-1", "user_id": "u1", "timestamp": 1704067200.5}',),
            ("not json at all",),
        ],
        "value string",
    )
    parsed = parse_wire_events(raw)
    # Wire events normalize to the canonical EVENT_SCHEMA types so the
    # Kafka path plugs into the stateful operators unchanged.
    from eventstream_notify_spark.catalog import EVENT_SCHEMA

    canon = {f.name: f.dataType for f in EVENT_SCHEMA.fields}
    got = {f.name: f.dataType for f in parsed.schema.fields
           if f.name != "_corrupt_record"}
    assert got == canon
    out = parsed.collect()
    good = [r for r in out if r.event_id is not None]
    bad = [r for r in out if r.event_id is None]
    assert len(good) == 1
    assert good[0].user_id == 1 and good[0].value == 1.0
    assert good[0].event_type == "event" and '"k"' in good[0].props
    assert len(bad) == 1 and bad[0]._corrupt_record == "not json at all"


class _FakeState:
    """Minimal GroupState double for driving stateful kernels directly:
    the watermark is set by the test, the armed timeout (if any) is
    recorded."""

    def __init__(self, watermark_ms=0):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.watermark_ms = watermark_ms
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v, self.exists = None, False
        self.timeout_ms = None

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def test_stream_ewma_kernel_multibatch_equals_whole_window():
    """Feed the EWMA kernel the same rows as ONE batch and as TWO
    batches split mid-window: outputs must be identical — the carried
    state (last 19 values) plus the sliding recurrence must reproduce
    the whole-history window exactly."""
    import pandas as pd

    from eventstream_notify_spark.streaming.state import ewma_fn

    rows = pd.DataFrame(
        {
            "user_id": [7] * 50,
            "event_id": list(range(50)),
            "ts_us": [1_000_000 * (i + 1) for i in range(50)],
            "v_int": [((i * 37) % 101) * 1_000_000 for i in range(50)],
        }
    )

    def run(splits):
        state = _FakeState()
        outs = []
        for part in splits:
            outs.extend(ewma_fn((7,), iter([part]), state))
        return pd.concat(outs, ignore_index=True)

    one = run([rows])
    two = run([rows.iloc[:23], rows.iloc[23:]])
    three = run([rows.iloc[:5], rows.iloc[5:30], rows.iloc[30:]])
    pd.testing.assert_frame_equal(one, two)
    pd.testing.assert_frame_equal(one, three)
    # spot-check the first value: window of itself only
    assert one["ewma"].iloc[0] == rows["v_int"].iloc[0] / 1e6


def test_stream_cep_kernel_burst_across_batches_fires_once():
    """A 3+-error run split across micro-batches must alert exactly
    once (on the 3rd error), wherever the split falls; a non-error
    resets the run; out-of-order chunks within one batch are sorted
    before the scan."""
    import pandas as pd

    from eventstream_notify_spark.streaming.state import cep_burst_fn

    types = ["error", "error", "error", "error", "view",
             "error", "error", "error", "click"]
    rows = pd.DataFrame(
        {
            "user_id": [7] * len(types),
            "event_id": list(range(len(types))),
            "ts_us": [1_000_000 * (i + 1) for i in range(len(types))],
            "event_type": types,
        }
    )

    def run(splits):
        state = _FakeState()
        outs = []
        for part in splits:
            outs.extend(cep_burst_fn((7,), iter([part]), state))
        return pd.concat(outs, ignore_index=True)

    want_ids = [2, 7]  # 3rd error of each maximal burst
    for splits in (
        [rows],
        [rows.iloc[:1], rows.iloc[1:2], rows.iloc[2:]],
        [rows.iloc[:4], rows.iloc[4:]],
        [rows.iloc[:6], rows.iloc[6:]],
    ):
        got = run(splits)
        assert list(got["event_id"]) == want_ids, splits
    # chunk-interleave within one batch: kernel must sort first
    shuffled = rows.sample(frac=1.0, random_state=5).reset_index(drop=True)
    got = run([shuffled])
    assert list(got["event_id"]) == want_ids


def test_cep_buffered_late_event_folds_in_event_time_order(
    spark, tmp_path
):
    """E4-pattern late-data injection: an in-watermark late error
    arriving in a LATER micro-batch. The buffered kernel folds it in
    event-time order and fires the alert on the true 3rd error; the
    ordered-replay kernel folds arrival-order and anchors the alert on
    the late row instead — the documented contract difference."""
    from eventstream_notify_spark.streaming.state import (
        cep_burst_buffered_stream,
        cep_burst_stream,
    )

    def err(i, ts_s, uid):
        return (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts_s),
            uid,
            "error",
            1.0,
            '{"k": 1}',
        )

    def build(path):
        # user 1: errors at t=0 and t=60 arrive first; the t=30 error
        # arrives one batch later (within the 10 min watermark)
        write_batch(spark, path, [err(1, 0, 1), err(3, 60, 1)], 0)
        write_batch(spark, path, [err(2, 30, 1)], 1)
        # flush sentinel: a far-future non-error pushes the watermark
        # past every buffered row so the frontier timeout fires
        write_batch(spark, path, [ev(999, 90_000, 99)], 2)

    base_us = int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000

    p1 = str(tmp_path / "buffered")
    build(p1)
    buffered = sorted(
        (r.user_id, r.event_id, r.ts_us)
        for r in run_bounded(
            cep_burst_buffered_stream(
                stream_from(spark, p1), watermark="10 minutes"
            )
        ).collect()
    )
    # event-time truth: errors 1(t0), 2(t30), 3(t60) -> alert on id 3
    assert buffered == [(1, 3, base_us + 60 * 1_000_000)]

    p2 = str(tmp_path / "ordered")
    build(p2)
    ordered = sorted(
        (r.user_id, r.event_id, r.ts_us)
        for r in run_bounded(
            cep_burst_stream(stream_from(spark, p2), watermark="10 minutes")
        ).collect()
    )
    # arrival-order fold anchors the alert on the late row (id 2)
    assert ordered == [(1, 2, base_us + 30 * 1_000_000)]


def test_cep_buffered_matches_ordered_on_ordered_source(spark, tmp_path):
    """On a per-user-ordered multi-batch source both kernels emit the
    identical alert set (the buffered variant is a superset contract,
    not a different semantics)."""
    from eventstream_notify_spark.streaming.state import (
        cep_burst_buffered_stream,
        cep_burst_stream,
    )

    def err(i, ts_s, uid):
        return (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts_s),
            uid,
            "error",
            1.0,
            '{"k": 1}',
        )

    def build(path):
        # burst of 4 for user 1 split across batches (alert on 3rd),
        # burst of 2 for user 2 (no alert), per-user arrival = ts order
        write_batch(
            spark, path, [err(1, 0, 1), err(2, 10, 1), err(10, 5, 2)], 0
        )
        write_batch(spark, path, [err(3, 20, 1), err(4, 30, 1)], 1)
        write_batch(spark, path, [err(11, 40, 2), ev(999, 90_000, 99)], 2)

    p1 = str(tmp_path / "b")
    build(p1)
    buffered = sorted(
        (r.user_id, r.event_id)
        for r in run_bounded(
            cep_burst_buffered_stream(
                stream_from(spark, p1), watermark="10 minutes"
            )
        ).collect()
    )
    p2 = str(tmp_path / "o")
    build(p2)
    ordered = sorted(
        (r.user_id, r.event_id)
        for r in run_bounded(
            cep_burst_stream(stream_from(spark, p2), watermark="10 minutes")
        ).collect()
    )
    assert buffered == ordered == [(1, 3)]


# ------------------------------------------------- JVM rate limiter

S = 1_000_000  # µs per second


def _admitted_reference(rows, limit, window_us):
    """The per-user recurrence, row by row (INCR + EXPIRE-on-first): a
    window opens at a user's first event, admits ``limit`` events, and
    the first event at or past ``window_us`` later opens the next.
    NULL users are one user."""
    keyed = sorted(
        rows, key=lambda r: (r[2] is None, r[2] or 0, r[1], r[0])
    )
    kept, user, anchor, count = set(), object(), 0, 0
    for eid, t, u in keyed:
        if u != user or t >= anchor + window_us:
            user, anchor, count = u, t, 0
        if count < limit:
            kept.add(eid)
        count += 1
    return kept


def _write_us(spark, path, rows, batch_no):
    """One source file of (event_id, ts µs, user or None) rows, in the
    given order."""
    write_batch(
        spark,
        path,
        [ev(i, t / S, u) for i, t, u in rows],
        batch_no,
    )


def _run_limiter(spark, tmp_path, limit, window_s, watermark):
    """rate_limit_stream over tmp_path/src, one file a trigger, into a
    memory sink: (admitted rows, the limiter's stateOperators
    entry of every progress). Two state partitions: every partition
    keeps a RocksDB instance loaded in the session after the query
    ends."""
    name = f"rl_{uuid.uuid4().hex[:12]}"
    with shuffle_partitions(spark, 2):
        q = (
            rate_limit_stream(
                stream_from(spark, str(tmp_path / "src")),
                limit=limit,
                window_s=window_s,
                watermark=watermark,
            )
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    rows = spark.table(name).collect()
    ops = [
        op
        for p in q.recentProgress
        for op in json.loads(p.json)["stateOperators"]
        if op["operatorName"] == "flatMapGroupsWithState"
    ]
    return rows, ops


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_rate_limit_stream_matches_per_user_reference(spark, tmp_path, seed):
    """Zipf users (some NULL) over a stream cut into one-file triggers,
    rows shuffled inside each file, the watermark trailing the newest
    event by 60 s: the admitted set equals the per-user reference over
    the whole stream, no row is admitted twice, and the timeout pass
    evicted ended windows."""
    import numpy as np

    rng = np.random.default_rng(seed)
    limit, window_s, n = 3, 20, 1_500
    # stamps rise across files (the limiter folds each trigger after
    # the previous ones, like the reference's Redis INCR); nothing is
    # at or below the watermark
    ts = np.sort(rng.integers(1_000 * S, 1_400 * S, n))
    users = [
        None if z % 97 == 0 else int(z) for z in np.minimum(rng.zipf(1.4, n), 3_000)
    ]
    rows = list(zip(range(n), ts.tolist(), users))
    cuts = np.sort(rng.choice(np.arange(1, n), size=5, replace=False))
    for k, part in enumerate(np.split(np.arange(n), cuts)):
        _write_us(spark, str(tmp_path / "src"), [rows[i] for i in rng.permutation(part)], k)
    out, ops = _run_limiter(spark, tmp_path, limit, window_s, "60 seconds")
    ids = [r.event_id for r in out]
    assert len(ids) == len(set(ids))
    assert set(ids) == _admitted_reference(rows, limit, window_s * S)
    assert sum(op["numRowsRemoved"] for op in ops) > 0
    assert ops[-1]["numRowsTotal"] < len(set(users))


def _limit_files(spark, tmp_path, files, limit):
    """Each list of (event_id, ts µs, user) rows one file and one
    trigger, shuffled inside the file, 60 s windows; the limiter's
    admitted rows as {event_id: user_id}, after checking none came out
    twice."""
    import random

    for k, rows in enumerate(files):
        _write_us(
            spark, str(tmp_path / "src"), random.Random(k).sample(rows, len(rows)), k
        )
    rows, _ = _run_limiter(spark, tmp_path, limit, 60, "60 seconds")
    admitted = {r.event_id: r.user_id for r in rows}
    assert len(admitted) == len(rows)
    return admitted


def test_rate_kernel_window_continues_across_batches(spark, tmp_path):
    """User 7's window [10 s, 70 s) admits 3 rows in the first trigger
    and 2 in the second, then is full: the rest of the second trigger
    and 69 s in the third are dropped."""
    admitted = _limit_files(
        spark,
        tmp_path,
        [
            [(i, (10 + i) * S, 7) for i in range(3)],
            [(i, (10 + i) * S, 7) for i in range(3, 9)],
            [(9, 69 * S, 7)],
        ],
        limit=5,
    )
    assert sorted(admitted) == [0, 1, 2, 3, 4]


def test_rate_kernel_reanchors_after_window_end(spark, tmp_path):
    """Limit 2: the window [10 s, 70 s) is full after the first
    trigger, so 69 s is dropped; 70 s is the first event at or past its
    end and anchors [70 s, 130 s), which admits 71 s and drops 72 s."""
    admitted = _limit_files(
        spark,
        tmp_path,
        [
            [(1, 10 * S, 7), (2, 20 * S, 7), (3, 30 * S, 7)],
            [(4, 69 * S, 7), (5, 70 * S, 7), (6, 71 * S, 7), (7, 72 * S, 7)],
        ],
        limit=2,
    )
    assert sorted(admitted) == [1, 2, 5, 6]


def test_rate_kernel_null_users_share_one_window(spark, tmp_path):
    """NULL user_id rows are limited as one user, apart from user 0,
    and come out NULL. Their window [2 s, 62 s) is full at 30 s in the
    next trigger; 70 s re-anchors."""
    admitted = _limit_files(
        spark,
        tmp_path,
        [
            [(i, (i + 1) * S, None if i % 2 else 0) for i in range(10)],
            [(20, 30 * S, None), (21, 70 * S, None)],
        ],
        limit=3,
    )
    assert admitted == {
        0: 0, 2: 0, 4: 0, 1: None, 3: None, 5: None, 21: None
    }


def test_rate_limit_stream_evicts_a_user_once_the_watermark_passes(
    spark, tmp_path
):
    """A user who never comes back keeps no state: user 1's window
    [100 s, 160 s) is removed by the timeout pass once the watermark
    (newest event - 60 s) passes 160 s, while user 2's stays open."""
    src = str(tmp_path / "src")
    _write_us(spark, src, [(1, 100 * S, 1)], 0)
    _write_us(spark, src, [(2, 300 * S, 2)], 1)
    rows, ops = _run_limiter(spark, tmp_path, 5, 60, "60 seconds")
    assert sorted(r.event_id for r in rows) == [1, 2]
    assert [op["numRowsTotal"] for op in ops][:2] == [1, 2]
    assert ops[-1]["numRowsTotal"] == 1
    assert sum(op["numRowsRemoved"] for op in ops) == 1


def test_rate_limit_stream_drops_late_rows(spark, tmp_path):
    """Used on its own, the limiter drops rows at or below the
    watermark it declares. Three one-file triggers with a 10 s
    watermark: 100 s, 101 s, then {90.5 s, 89 s, 102 s}; the third
    trigger's late filter uses the previous trigger's watermark
    (90 s), so 89 s is dropped and 90.5 s admitted."""
    src = str(tmp_path / "src")
    _write_us(spark, src, [(1, 100 * S, 1)], 0)
    _write_us(spark, src, [(2, 101 * S, 2)], 1)
    _write_us(spark, src, [(3, 90_500_000, 3), (4, 89 * S, 4), (5, 102 * S, 5)], 2)
    rows, _ = _run_limiter(spark, tmp_path, 5, 60, "10 seconds")
    assert sorted(r.event_id for r in rows) == [1, 2, 3, 5]


def _jar_args(spark):
    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return prop("java.class.path"), prop("java.home"), "test"


def test_rate_limit_jar_is_keyed_by_its_source(spark, tmp_path, monkeypatch):
    from eventstream_notify_spark.streaming.state import (
        _RATE_LIMIT_SRC,
        _rate_limit_jar,
    )

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    src = tmp_path / "RateLimit.java"
    src.write_bytes(_RATE_LIMIT_SRC.read_bytes())
    first = _rate_limit_jar(src, *_jar_args(spark))
    assert _rate_limit_jar(src, *_jar_args(spark)) == first  # cached
    src.write_text(src.read_text() + "// edited\n")
    edited = _rate_limit_jar(src, *_jar_args(spark))
    assert edited != first and first.exists() and edited.exists()


def test_rate_limit_jar_without_javac_names_it(spark, tmp_path, monkeypatch):
    from eventstream_notify_spark.streaming import state

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(state.shutil, "which", lambda *a, **k: None)
    with pytest.raises(RuntimeError, match="`javac`"):
        state._rate_limit_jar(state._RATE_LIMIT_SRC, *_jar_args(spark))


def test_racing_first_uses_leave_one_valid_jar(spark, tmp_path, monkeypatch):
    import threading
    import zipfile

    from eventstream_notify_spark.streaming.state import (
        _RATE_LIMIT_SRC,
        _rate_limit_jar,
    )

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    args = _jar_args(spark)
    start, jars = threading.Barrier(2), []

    def first_use():
        start.wait()
        jars.append(_rate_limit_jar(_RATE_LIMIT_SRC, *args))

    threads = [threading.Thread(target=first_use) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert len(jars) == 2 and jars[0] == jars[1]
    assert list(jars[0].parent.iterdir()) == [jars[0]]
    with zipfile.ZipFile(jars[0]) as z:
        assert z.testzip() is None
        assert {
            "eventstream_notify_spark/streaming/RateLimit.class",
            "eventstream_notify_spark/streaming/RateLimit$UserId.class",
        } <= set(z.namelist())


def test_stateful_rate_limit_exact_ids_beside_null_users(spark, tmp_path):
    """Ids above 2**53 that share a shard with NULL user_id rows keep
    every bit (a NULL in an int64 Arrow column would make it float64),
    NULL rows share one window, and the stream's output has no helper
    columns."""
    RATE_SHARDS = 64  # the shard count of the limiter this test was written for

    shard = F.pmod(F.xxhash64(F.col("user_id")), F.lit(RATE_SHARDS))
    null_shard = (
        spark.range(1).select(F.lit(None).cast("long").alias("user_id"))
        .select(shard).first()[0]
    )
    big = [
        r.user_id
        for r in spark.range(2_000)
        .select((F.col("id") + F.lit(2**60)).alias("user_id"))
        .where(shard == null_shard)
        .limit(2)
        .collect()
    ]
    path = str(tmp_path / "src")
    rows = [
        ev(k * 100 + i, i, u) for k, u in enumerate(big + [None]) for i in range(8)
    ]
    write_batch(spark, path, rows, 0)
    out = run_bounded(
        rate_limit_stream(stream_from(spark, path), limit=5, window_s=60)
    )
    assert out.columns == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    got = sorted(
        ((r.user_id is None, r.user_id or 0), r.event_id)
        for r in out.collect()
    )
    want = sorted(
        ((u is None, u or 0), k * 100 + i)
        for k, u in enumerate(big + [None])
        for i in range(5)
    )
    assert len(big) == 2 and got == want

