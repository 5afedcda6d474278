"""backlog_replay: a seeded backlog replayed with ``available_now=True``.

The backlog is on disk before the stream starts, so ``start_pipeline``
reads it in one data trigger into
``notify_sink(MergeKeyedStore, MergeKeyedStore)``: per-trigger pacing
plays no part, and the per-row cost of the write path (JSON parse, dedup
state, the pandas limiter, the bucket rewrite in ``upsert_batch``) and
the stream's cold start set the time.  Event stamps start near the
epoch, so the backlog's maximum stays within the 60 s watermark delay:
the watermark never leaves its initial 0 and no closing no-data trigger
(~14 s of state-store round trips on 4 cores, none of it per-row work)
runs after the data trigger.  An event "lands"
when the sink call of its micro-batch returns; every backlog event is
due when the replay starts.

The dashboard refreshes beside the replay, 2 per second from just before
``start_pipeline`` until the query ends: a dashboard left open while a
consumer catches up, its reads contending with bulk writes rather than
with live's trickle, ~80 refreshes a run.

The replay is the first stream of the process — a consumer restarted to
catch up on its backlog — so its one-time costs (Python workers, state
store start-up, code generation) are part of the measurement.  On a
4-core machine a replay costs ~25 s even for a tiny backlog, so a second
(warm-up) replay per run does not fit the run budget.
"""

from __future__ import annotations

import os
import time

import numpy as np

import inputs
import reference
from common import (
    REFRESH_S,
    Ctx,
    Serving,
    dir_bytes,
    notify_metrics,
    with_loadgen,
)
from stream_layers import pipeline_layers
from tracing import ProgressLog, median

USERS = 20_000
RESEND = 0.05
# a burst: 1,000 events per second of event time, so the whole backlog
# spans less than the 60 s TTL and rate window
EVENT_RATE = 1000
# the first stamp, after the initial watermark (0) so that none is late;
# the last (BACKLOG / EVENT_RATE s later) stays below the 60 s watermark
# delay, so the watermark does not move
BASE_MS = 1_000
WATERMARK_DELAY_MS = 60_000
# 8.4k rows with re-sends: on 4 cores most of the replay is the stream's
# cold start; a backlog large enough for per-row work to dominate would
# not fit the run budget
BACKLOG = 8_000
FILES = 8
LOCAL1_FILES = 1


class TimedStore:
    """A keyed store whose ``upsert_batch`` is timed as one span.  The
    first store of ``notify_sink`` also materializes the persisted
    batch under ``sink.batch_compute`` first, so the lazy upstream
    compute is not charged to the upsert."""

    def __init__(self, store, tracer, name: str, materialize: bool) -> None:
        self.store, self.tracer = store, tracer
        self.name, self.materialize = name, materialize

    def upsert_batch(self, batch_df, epoch_id: int) -> None:
        if self.materialize:
            with self.tracer.span("sink.batch_compute"):
                self.tracer.counts["sink.rows"] += batch_df.count()
        with self.tracer.span(self.name):
            self.store.upsert_batch(batch_df, epoch_id)


def replay(spark, ctx: Ctx, wire_dir: str, tag: str) -> dict:
    """One ``available_now`` replay of ``wire_dir`` into fresh stores;
    returns wall time, per-epoch landing times and the progress log."""
    from eventstream_notify_spark.sources.events import wire_file_stream
    from eventstream_notify_spark.streaming.pipeline import (
        notify_sink,
        start_pipeline,
    )
    from eventstream_notify_spark.streaming.sinks import MergeKeyedStore

    tr = ctx.tracer
    store = MergeKeyedStore(ctx.path(f"{tag}-store"))
    alerts = MergeKeyedStore(ctx.path(f"{tag}-alerts"), key="alert_id")
    if tr.enabled:
        inner = notify_sink(
            TimedStore(store, tr, "sink.upsert", True),
            TimedStore(alerts, tr, "sink.alert", False),
        )
    else:
        inner = notify_sink(store, alerts)
    landed: dict[int, float] = {}

    def sink(batch_df, epoch_id):
        with tr.span("sink.batch"):
            inner(batch_df, epoch_id)
        landed[epoch_id] = time.time()

    t_start = time.time()
    with tr.span(f"pipeline.{tag}"):
        q = start_pipeline(
            wire_file_stream(spark, wire_dir),
            ctx.path(f"{tag}-ckpt"),
            sink,
            available_now=True,
        )
        q.awaitTermination()
    wall = time.time() - t_start
    prog = ProgressLog()
    prog.poll(q)
    return {
        "wall": wall,
        "t_start": t_start,
        "landed": landed,
        "prog": prog,
        "store": store,
        "exception": q.exception(),
    }


def run(ctx: Ctx) -> dict:
    rows = inputs.wire_rows(
        ctx.rng,
        n_events=BACKLOG,
        n_users=USERS,
        resend_share=RESEND,
        rate_per_s=EVENT_RATE,
        base_ms=BASE_MS,
        first_id=1,
    )
    if rows.stamp_ms.max() >= WATERMARK_DELAY_MS:
        raise ValueError("backlog stamps would move the watermark")
    inputs.write_wire_files(rows, ctx.dir("backlog"), FILES)
    serving = Serving(ctx)
    return with_loadgen(ctx, _run, rows, serving)


def _run(ctx, rows, serving, gen) -> dict:
    from pyspark.sql import functions as F

    from eventstream_notify_spark.session import get_spark

    tr = ctx.tracer
    t_setup = time.perf_counter()
    with tr.span("session.start"):
        spark = get_spark()
    with tr.span("session.warm"):
        serving.start()
    setup_s = time.perf_counter() - t_setup

    gen.begin(
        {
            "port": serving.server.port,
            "preload": len(serving.preload),
            "refresh_s": REFRESH_S,
        }
    )
    r = replay(spark, ctx, ctx.path("backlog"), "run")
    refreshes = gen.finish()["refreshes"]

    # ---- output checks (outside the timed region)
    want = reference.store_frame(reference.admitted(rows))
    got = (
        r["store"]
        .current(spark)
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .toPandas()
    )
    serving.stop()
    merged = want.merge(got, on="event_id", how="outer", suffixes=("", "_g"),
                        indicator=True)
    missing = int((merged["_merge"] == "left_only").sum())
    extra = int((merged["_merge"] == "right_only").sum())
    both = merged[merged["_merge"] == "both"]
    differ = int(
        sum(
            (both[c] != both[f"{c}_g"]).sum()
            for c in ("ts_us", "user_id", "event_type", "value", "props")
        )
    )
    hash_ok = reference.fingerprint(want) == reference.fingerprint(got)

    # landing latency: each input row lands when its epoch's sink returns
    lat = []
    for b in r["prog"].batches():
        k = int(b.get("numInputRows", 0))
        if k and b["batchId"] in r["landed"]:
            lat.append((r["landed"][b["batchId"]] - r["t_start"], k))
    samples = np.repeat([t for t, _ in lat], [k for _, k in lat])
    res = {
        **notify_metrics(samples, len(rows), r["wall"]),
        "setup_s": setup_s,
        "refreshes": refreshes,
        "attempted": len(want),
        "failed": missing + extra + differ
        + (0 if hash_ok or missing + extra + differ else 1)
        + (1 if r["exception"] is not None else 0),
        "checks": {
            "input_rows": len(rows),
            "expected_rows": len(want),
            "store_rows": len(got),
            "missing": missing,
            "extra": extra,
            "differing_cells": differ,
            "hash_match": hash_ok,
            "replay_s": r["wall"],
            "exception": None if r["exception"] is None else str(r["exception"])[:500],
        },
    }
    if tr.enabled:
        tr.progress = r["prog"].batches()
        store_bytes = dir_bytes(ctx.path("run-store"))
        lay = pipeline_layers(r["prog"], len(got))
        lay.update(
            {
                "sink.batch_compute_ms": 1000 * median(tr.durations("sink.batch_compute")),
                "sink.upsert_ms": 1000 * median(tr.durations("sink.upsert")),
                "sink.alert_ms": 1000 * median(tr.durations("sink.alert")),
                "sink.store_bytes": float(store_bytes),
                "sink.bytes_per_event": store_bytes / max(1, len(got)),
            }
        )
        if ctx.extras_fit():
            lay["baseline.local1_events_per_s"] = _local1(ctx)
        else:
            res["checks"]["local1"] = "skipped: host too slow for the time limit"
        res["layers"] = lay
    return res


def _local1(ctx: Ctx) -> float:
    """A replay on a one-core session: the single-threaded baseline
    throughput.  It replays the first ``LOCAL1_FILES`` backlog files
    only — the whole backlog on one core would take the traced run past
    its time limit — so its fixed start-up cost weighs more than in
    ``events_per_s``."""
    import pyarrow.parquet as pq

    from eventstream_notify_spark.session import get_spark

    src, dst = ctx.path("backlog"), ctx.dir("backlog1")
    n = 0
    for name in sorted(os.listdir(src))[:LOCAL1_FILES]:
        os.link(os.path.join(src, name), os.path.join(dst, name))
        n += pq.read_metadata(os.path.join(dst, name)).num_rows
    get_spark().stop()
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    ctx.tracer.enabled = False
    try:
        r = replay(get_spark(), ctx, dst, "run1")
        return n / r["wall"]
    finally:
        ctx.tracer.enabled = True
        os.environ["SPARK_GRAFT_CPUS"] = cpus
