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
    """The limiter runs without a timeout, so Spark's late-row filter
    does not run inside it; the pipeline's dedup drops late rows first.
    Three one-file triggers with a 10 s watermark: 100 s, then 101 s,
    then {90.5 s, 89 s, 102 s}. The third trigger's late filter uses
    the previous trigger's watermark (90 s): 89 s is dropped, 90.5 s is
    admitted although the limiter's eviction watermark is already
    91 s."""
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


# ------------------------------------------- sharded rate-limit kernel

S = 1_000_000  # µs per second


def _rate_frame(rows, shard=0):
    """Limiter input rows as rate_limit_stream hands them to the
    kernel: (event_id, ts_us, user or None) -> the event columns plus
    the ``user_null`` flag and ``shard`` key."""
    import numpy as np

    ids, ts_us, users = zip(*rows) if rows else ((), (), ())
    return pd.DataFrame(
        {
            "event_id": np.asarray(ids, dtype=np.int64),
            "ts": pd.to_datetime(np.asarray(ts_us, dtype=np.int64) * 1000),
            "user_id": np.asarray(
                [0 if u is None else u for u in users], dtype=np.int64
            ),
            "event_type": "click",
            "value": 1.0,
            "props": '{"k": 1}',
            "user_null": np.asarray([u is None for u in users], dtype=bool),
            "shard": np.full(len(ids), shard, dtype=np.int32),
        }
    )


def _limit_call(fn, state, rows, shard=0):
    out = list(fn((shard,), iter([_rate_frame(rows, shard)]), state))
    return pd.concat(out, ignore_index=True) if out else None


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


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_rate_kernel_matches_per_user_reference(seed):
    """Zipf users (some NULL) over a stream cut into random
    micro-batches, each shard's rows split into random Arrow-like
    chunks, the watermark trailing the newest event by 60 s: the
    admitted set equals the per-user reference over the whole stream.
    Like Spark under ``NoTimeout``, a shard's kernel runs only in the
    batches that carry its rows, so all eviction is in data calls."""
    import numpy as np

    from eventstream_notify_spark.streaming.state import make_rate_limiter

    rng = np.random.default_rng(seed)
    limit, window_us, delay_us, n = 3, 20 * S, 60 * S, 4_000
    # stamps rise across batches (the limiter folds each batch after
    # the previous ones, like the reference's Redis INCR); rows inside a
    # batch arrive shuffled. Nothing is at or below the watermark.
    ts = np.sort(rng.integers(1_000 * S, 1_400 * S, n))
    users = [
        None if z % 97 == 0 else int(z) for z in np.minimum(rng.zipf(1.4, n), 3_000)
    ]
    rows = list(zip(range(n), ts.tolist(), users))
    fn = make_rate_limiter(limit, window_us // S)
    states = {}
    got = set()
    cuts = np.sort(rng.choice(np.arange(1, n), size=25, replace=False))
    wm_ms = 0
    for batch in np.split(np.arange(n), cuts):
        by_shard = {}
        for i in batch:
            u = rows[i][2]
            by_shard.setdefault(0 if u is None else u % 5, []).append(rows[i])
        for shard, part in by_shard.items():
            st = states.setdefault(shard, _FakeState())
            st.watermark_ms = wm_ms
            frame = _rate_frame(part, shard).sample(frac=1.0, random_state=seed)
            cut = sorted(rng.integers(0, len(frame), rng.integers(0, 3)))
            chunks = [frame.iloc[a:b] for a, b in zip([0, *cut], [*cut, None])]
            for out in fn((shard,), iter(chunks), st):
                assert list(out.columns) == [
                    "event_id", "ts", "user_id", "event_type", "value", "props"
                ]
                got.update(out["event_id"].tolist())
        wm_ms = max(wm_ms, (int(ts[batch].max()) - delay_us) // 1000)
    assert got == _admitted_reference(rows, limit, window_us)
    kept_users = sum(len(st.get[0]) for st in states.values() if st.exists)
    assert kept_users < len(set(users))  # eviction ran


def test_rate_kernel_window_continues_across_batches():
    from eventstream_notify_spark.streaming.state import make_rate_limiter

    fn, st = make_rate_limiter(5, 60), _FakeState()
    out = _limit_call(fn, st, [(i, (10 + i) * S, 7) for i in range(3)])
    assert out["event_id"].tolist() == [0, 1, 2]
    assert st.get == ([7], [10 * S], [3])
    # same window (ends at 70 s): 2 more admitted, then it is full
    out = _limit_call(fn, st, [(i, (10 + i) * S, 7) for i in range(3, 9)])
    assert out["event_id"].tolist() == [3, 4]
    assert st.get == ([7], [10 * S], [5])
    assert st.timeout_ms is None
    assert _limit_call(fn, st, [(9, 69 * S, 7)]) is None


def test_rate_kernel_reanchors_after_window_end():
    from eventstream_notify_spark.streaming.state import make_rate_limiter

    fn, st = make_rate_limiter(2, 60), _FakeState()
    _limit_call(fn, st, [(1, 10 * S, 7), (2, 20 * S, 7), (3, 30 * S, 7)])
    # 70 s is the first event at or past the window end: it anchors the
    # next window [70 s, 130 s), which admits 71 s and drops 72 s
    out = _limit_call(
        fn, st, [(4, 69 * S, 7), (5, 70 * S, 7), (6, 71 * S, 7), (7, 72 * S, 7)]
    )
    assert sorted(out["event_id"].tolist()) == [5, 6]
    assert st.get == ([7], [70 * S], [2])
    assert st.timeout_ms is None


def test_rate_kernel_evicts_ended_windows_in_data_calls():
    """Eviction is per user inside the shard and happens in the calls
    that carry data: windows ending at or below the watermark go, the
    shard's state is removed once empty, and no timeout is ever
    armed."""
    from eventstream_notify_spark.streaming.state import make_rate_limiter

    fn, st = make_rate_limiter(5, 60), _FakeState()
    _limit_call(fn, st, [(1, 30 * S, 3), (2, 0 * S + 1, 1), (3, 10 * S, 2)])
    assert st.get == ([1, 2, 3], [1, 10 * S, 30 * S], [1, 1, 1])
    assert st.timeout_ms is None
    # user 2's window ends exactly at the watermark: evicted with user
    # 1 by the next call that carries data, before the shard is written
    st.watermark_ms = 70_000
    _limit_call(fn, st, [(4, 150 * S, 4)])
    assert st.get == ([3, 4], [30 * S, 150 * S], [1, 1])
    assert st.timeout_ms is None
    # user 3's window is still open one ms below its end
    st.watermark_ms = 89_999
    _limit_call(fn, st, [(5, 151 * S, 4)])
    assert st.get == ([3, 4], [30 * S, 150 * S], [1, 2])
    # the watermark passed every window, the call's own included: its
    # row is still admitted, and the emptied shard is removed
    st.watermark_ms = 270_000
    assert _limit_call(fn, st, [(6, 200 * S, 5)])["event_id"].tolist() == [6]
    assert not st.exists and st.get is None
    assert st.timeout_ms is None


def test_rate_kernel_null_users_share_one_window():
    """NULL user_id rows are limited as one user -- distinct from user
    0, whose id the NULLs carry in the kernel's input -- and come out
    NULL again."""
    from eventstream_notify_spark.streaming.state import make_rate_limiter

    fn, st = make_rate_limiter(3, 60), _FakeState()
    rows = [(i, (i + 1) * S, None if i % 2 else 0) for i in range(10)]
    out = _limit_call(fn, st, rows)
    assert sorted(out["event_id"].tolist()) == [0, 1, 2, 3, 4, 5]
    nulls = out[out["user_id"].isna()]
    assert sorted(nulls["event_id"].tolist()) == [1, 3, 5]
    assert out.loc[out["user_id"].notna(), "user_id"].tolist() == [0, 0, 0]
    # the NULL user is stored last, as a None id, and continues
    assert st.get == ([0, None], [1 * S, 2 * S], [3, 3])
    out = _limit_call(fn, st, [(20, 30 * S, None), (21, 70 * S, None)])
    assert out["event_id"].tolist() == [21]
    assert st.get == ([0, None], [1 * S, 70 * S], [3, 1])


def test_stateful_rate_limit_exact_ids_beside_null_users(spark, tmp_path):
    """Ids above 2**53 that share a shard with NULL user_id rows keep
    every bit (a NULL in an int64 Arrow column would make it float64),
    NULL rows share one window, and the stream's output has no helper
    columns."""
    from eventstream_notify_spark.streaming.state import RATE_SHARDS

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

