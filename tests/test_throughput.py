"""BASELINE behavioral gates (BASELINE.md 'Our bench gate'): the
engine must sustain the reference's ingest rate (20 ev/s configured;
~75 ev/s observed) through the FULL pipeline — dedup + stateful rate
limit + exactly-once sink. Bounds are generous to stay robust on
loaded CI machines; the reference target is beaten by orders of
magnitude either way."""

from __future__ import annotations

import time

from eventstream_notify_spark.sources.events import rate_events_stream
from eventstream_notify_spark.streaming.pipeline import start_pipeline
from eventstream_notify_spark.streaming.sinks import ParquetKeyedStore


def test_pipeline_sustains_reference_ingest_rate(spark, tmp_path):
    store = ParquetKeyedStore(str(tmp_path / "store"))
    # 200 ev/s source = 10x the reference's configured producer rate
    src = rate_events_stream(spark, events_per_second=200)
    q = start_pipeline(
        src,
        str(tmp_path / "ckpt"),
        store.upsert_batch,
        rate_limit=1_000_000,  # don't drop: we're measuring throughput
        rate_window_s=60,
    )
    try:
        deadline = time.time() + 30
        processed = 0
        while time.time() < deadline:
            time.sleep(2)
            # count every reported batch once: the rate source's offsets
            # move once a second, each data batch is followed by a
            # no-data batch (the watermark moved), and a 2 s sample of
            # lastProgress can stay in phase with the no-data half
            processed = sum(p["numInputRows"] for p in q.recentProgress)
            if processed >= 200:  # 10 s of reference-rate traffic
                break
        assert processed >= 200, f"only {processed} rows in 30s"
    finally:
        q.stop()
    # rows actually landed (exactly-once path, not just source reads)
    assert store.compacted(spark).count() > 0
