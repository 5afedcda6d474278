"""Config-file parity (the reference's config.yaml contract) and the
MERGE-shaped sink seam (Delta/Iceberg swap-in point)."""

from __future__ import annotations

import datetime as dt

from eventstream_notify_spark.config import DEFAULT_CONFIG, load_config
from eventstream_notify_spark.streaming.sinks import MergeKeyedStore


def test_defaults_match_reference(tmp_path):
    cfg = load_config(str(tmp_path / "missing.yaml"))  # file absent
    assert cfg.bootstrap_servers == "127.0.0.1:9092"
    assert cfg.topic == "test_topic"
    assert cfg.batch_size == 32
    assert cfg.dedup_ttl_s == 60
    assert cfg.rate_limit_count == 5
    assert cfg.rate_limit_window_s == 60
    assert cfg.events_per_second == 20.0  # 1 / 0.05 s
    assert cfg.producer_enabled


def test_shallow_merge_and_mapping(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(
        "kafka:\n"
        "  topic: prod_topic\n"
        "consumer:\n"
        "  rate_limit_count: 9\n"
        "  dedup_ttl_s: 120\n"
    )
    cfg = load_config(str(p))
    # overridden keys
    assert cfg.topic == "prod_topic"
    assert cfg.rate_limit_count == 9 and cfg.dedup_ttl_s == 120
    # sibling keys in touched sections survive (reference merge is
    # section.update, not section replace)
    assert cfg.bootstrap_servers == "127.0.0.1:9092"
    assert cfg.batch_size == 32
    # mapped option dicts
    assert cfg.kafka_source_options()["subscribe"] == "prod_topic"
    kw = cfg.pipeline_kwargs()
    assert kw == {"ttl": "120 seconds", "rate_limit": 9, "rate_window_s": 60}
    # defaults dict itself is never mutated by a load
    assert DEFAULT_CONFIG["consumer"]["rate_limit_count"] == 5


def test_reference_config_file_loads_verbatim():
    """The reference repo's own config.yaml is accepted unchanged."""
    cfg = load_config("/root/reference/config.yaml")
    assert cfg.topic == "test_topic"
    assert cfg.bootstrap_servers == "127.0.0.1:9092"
    assert cfg.rate_limit_count == 5  # untouched sections keep defaults


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [
            (eid, dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
             + dt.timedelta(seconds=s), v)
            for eid, s, v in rows
        ],
        "event_id long, ts timestamp, value double",
    )


def test_merge_sink_upsert_and_idempotence(spark, tmp_path):
    store = MergeKeyedStore(str(tmp_path / "merge_store"))
    # epoch 0: insert 3 keys
    store.upsert_batch(_mk_batch(spark, [(1, 0, 1.0), (2, 0, 2.0), (3, 0, 3.0)]), 0)
    got = {r.event_id: r.value for r in store.current(spark).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}
    # epoch 1: update key 2, insert key 4; duplicate key 4 in-batch
    # resolves latest-ts-wins before the merge
    store.upsert_batch(
        _mk_batch(spark, [(2, 5, 20.0), (4, 1, 4.0), (4, 6, 40.0)]), 1
    )
    got = {r.event_id: r.value for r in store.current(spark).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 40.0}
    # replayed epoch 1 (restart between write and WAL commit) merges
    # the same batch against the same pre-state: state unchanged
    store.upsert_batch(
        _mk_batch(spark, [(2, 5, 20.0), (4, 1, 4.0), (4, 6, 40.0)]), 1
    )
    got2 = {r.event_id: r.value for r in store.current(spark).collect()}
    assert got2 == got


def test_merge_sink_paths_share_kv_semantics(spark, tmp_path):
    """Log-store and merge-store sinks converge to the same KV state —
    the two implementations of one upsert contract (swap freely)."""
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    batches = [
        [(1, 0, 1.0), (2, 0, 2.0)],
        [(2, 5, 20.0), (3, 2, 3.0)],
    ]
    log_store = ParquetKeyedStore(str(tmp_path / "log"))
    merge_store = MergeKeyedStore(str(tmp_path / "merge"))
    for epoch, rows in enumerate(batches):
        log_store.upsert_batch(_mk_batch(spark, rows), epoch)
        merge_store.upsert_batch(_mk_batch(spark, rows), epoch)
    kv_log = {
        r.event_id: r.value for r in log_store.compacted(spark).collect()
    }
    kv_merge = {
        r.event_id: r.value for r in merge_store.current(spark).collect()
    }
    assert kv_log == kv_merge == {1: 1.0, 2: 20.0, 3: 3.0}


def test_merge_null_update_replaces_whole_row(spark, tmp_path):
    """A matched key takes the batch row as written: NULLs in the
    update replace the old values instead of keeping them (no row
    mixed from two writes), and both store kinds agree."""
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    schema = "event_id long, ts timestamp, value double, props string"
    batches = [
        [(1, t0, 1.0, '{"k":1}'), (2, t0, 2.0, '{"k":2}')],
        [(1, t0 + dt.timedelta(seconds=5), None, None)],
    ]
    log_store = ParquetKeyedStore(str(tmp_path / "log"))
    merge_store = MergeKeyedStore(str(tmp_path / "merge"))
    for epoch, rows in enumerate(batches):
        log_store.upsert_batch(spark.createDataFrame(rows, schema), epoch)
        merge_store.upsert_batch(spark.createDataFrame(rows, schema), epoch)

    def kv(df):
        return {r.event_id: (r.value, r.props) for r in df.collect()}

    want = {1: (None, None), 2: (2.0, '{"k":2}')}
    assert kv(merge_store.current(spark)) == want
    assert kv(log_store.compacted(spark)) == want


def test_keyed_store_upsert_leaves_session_overwrite_mode(spark, tmp_path):
    """Both stores overwrite dynamically per write, without switching
    the caller's session to dynamic partition overwrite."""
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        for store in (
            ParquetKeyedStore(str(tmp_path / "log")),
            MergeKeyedStore(str(tmp_path / "merge")),
        ):
            store.upsert_batch(_mk_batch(spark, [(1, 0, 1.0)]), 0)
            store.upsert_batch(_mk_batch(spark, [(2, 1, 2.0)]), 1)
            assert spark.conf.get(key) == "STATIC"
            # still dynamic: the second write kept the first one's rows
            assert store.log(spark).count() == 2
    finally:
        spark.conf.set(key, prev)


def test_merge_untouched_buckets_not_rewritten(spark, tmp_path):
    """Bucket pruning: an epoch rewrites ONLY the _bucket partitions
    its batch touches — every file in an untouched bucket is
    byte-identical afterwards (the file-pruned copy-on-write contract
    this store approximates; at 100 TB this is the difference between
    O(batch) and O(state) per epoch)."""
    import hashlib
    from pathlib import Path

    store = MergeKeyedStore(str(tmp_path / "merge_store"))
    store.upsert_batch(
        _mk_batch(spark, [(k, 0, float(k)) for k in range(1, 30)]), 0
    )

    def snapshot():
        return {
            str(p): hashlib.md5(p.read_bytes()).hexdigest()
            for p in Path(store.path).rglob("*")
            if p.is_file() and not p.name.startswith(("_", "."))
        }

    before = snapshot()
    # single-key batch: touches exactly one bucket
    store.upsert_batch(_mk_batch(spark, [(2, 5, 20.0)]), 1)
    after = snapshot()
    bucket_of_2 = spark.sql(
        f"SELECT pmod(xxhash64(CAST(2 AS BIGINT)), {store.n_buckets})"
    ).first()[0]
    touched_dir = f"_bucket={bucket_of_2}"
    untouched_before = {
        p: h for p, h in before.items() if touched_dir not in p
    }
    assert untouched_before, "fixture must span several buckets"
    # every untouched-bucket file survives with identical bytes
    for p, h in untouched_before.items():
        assert after.get(p) == h, f"untouched bucket file rewritten: {p}"
    # and the touched bucket really changed
    assert any(
        before.get(p) != h for p, h in after.items() if touched_dir in p
    )
    # state is still correct
    got = {r.event_id: r.value for r in store.current(spark).collect()}
    want = {k: float(k) for k in range(1, 30)}
    want[2] = 20.0
    assert got == want


def test_merge_store_as_streaming_sink(spark, sf_dir, tmp_path):
    """MergeKeyedStore drops into start_pipeline unchanged — the
    foreachBatch seam really is sink-implementation-agnostic, and the
    merged state equals the log-store pipeline's compacted state."""
    from eventstream_notify_spark.sources.events import file_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline
    from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore

    merge_store = MergeKeyedStore(str(tmp_path / "merge"))
    log_store = ParquetKeyedStore(str(tmp_path / "log"))
    for store, ckpt in ((merge_store, "c1"), (log_store, "c2")):
        q = start_pipeline(
            file_events_stream(spark, sf_dir),
            str(tmp_path / ckpt),
            store.upsert_batch,
            rate_window_s=86400,
            available_now=True,
        )
        q.awaitTermination()
    merged = {
        r.event_id: r.value for r in merge_store.current(spark).collect()
    }
    compacted = {
        r.event_id: r.value for r in log_store.compacted(spark).collect()
    }
    assert len(merged) > 0
    assert merged == compacted


def test_merge_replay_after_partial_bucket_write(spark, tmp_path):
    """Exactly-once under a crash MID-overwrite: epoch 1 touches two
    buckets; simulate a crash that persisted only ONE of them, then
    replay epoch 1. Already-written and not-yet-written buckets must
    both converge on the same final state (batch rows win via
    coalesce, so re-merging onto post-state is idempotent)."""
    import shutil
    from pathlib import Path

    store = MergeKeyedStore(str(tmp_path / "merge_store"))
    store.upsert_batch(
        _mk_batch(spark, [(k, 0, float(k)) for k in range(1, 40)]), 0
    )
    # pick two keys in different buckets
    b = {
        k: spark.sql(
            f"SELECT pmod(xxhash64(CAST({k} AS BIGINT)), {store.n_buckets})"
        ).first()[0]
        for k in (2, 3, 5, 7)
    }
    k1, k2 = 2, next(k for k, v in b.items() if v != b[2])
    # record the victim bucket's pre-epoch files (relative paths)
    victim = Path(store.path) / f"_bucket={b[k2]}"
    pre_victim = {
        p.name: p.read_bytes() for p in victim.rglob("*.parquet")
    }
    store.upsert_batch(
        _mk_batch(spark, [(k1, 5, 111.0), (k2, 5, 222.0)]), 1
    )
    # crash simulation: roll ONE touched bucket back to its pre-epoch
    # files (the other touched bucket keeps the epoch's output)
    shutil.rmtree(victim)
    victim.mkdir()
    for name, data in pre_victim.items():
        (victim / name).write_bytes(data)
    got_mid = {
        r.event_id: r.value for r in store.current(spark).collect()
    }
    assert got_mid[k1] == 111.0  # survivor bucket kept the epoch
    # replay the SAME epoch (foreachBatch redelivery after restart)
    store.upsert_batch(
        _mk_batch(spark, [(k1, 5, 111.0), (k2, 5, 222.0)]), 1
    )
    got = {r.event_id: r.value for r in store.current(spark).collect()}
    want = {k: float(k) for k in range(1, 40)}
    want[k1], want[k2] = 111.0, 222.0
    assert got == want


def test_cdc_store_delete_resurrect_replay(spark, tmp_path):
    """CdcKeyedStore semantics across epochs: a delete tombstones the
    key, a later upsert resurrects it, and replaying an epoch onto its
    own post-state is a no-op (exactly-once effect). Within one batch
    the LATEST op per key wins via the (ts, event_id) tie-break."""
    import datetime as dt

    from eventstream_notify_spark.streaming.sinks import CdcKeyedStore

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, op string"
    )
    t0 = dt.datetime(2024, 1, 1)

    def row(eid, sec, uid, op):
        return (
            eid,
            t0 + dt.timedelta(seconds=sec),
            uid,
            "error" if op == "D" else "view",
            float(eid),
            "{}",
            op,
        )

    store = CdcKeyedStore(str(tmp_path / "cdc"), key="user_id")
    # u1: upsert then delete (delete wins in-batch); u2: upsert
    store.upsert_batch(
        spark.createDataFrame(
            [row(1, 0, 1, "U"), row(2, 1, 1, "D"), row(3, 2, 2, "U")],
            schema,
        ),
        0,
    )
    cur = lambda: sorted(  # noqa: E731
        (r.user_id, r.event_id) for r in store.current(spark).collect()
    )
    assert cur() == [(2, 3)]
    # u2 deleted, u1 resurrected
    b2 = spark.createDataFrame(
        [row(4, 60, 2, "D"), row(5, 61, 1, "U")], schema
    )
    store.upsert_batch(b2, 1)
    assert cur() == [(1, 5)]
    store.upsert_batch(b2, 1)  # epoch replay
    assert cur() == [(1, 5)]
