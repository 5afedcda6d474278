"""Custom stateful streaming operators — the one reference semantics
Spark has no built-in for: the first-event-anchored per-user rate
limiter (reference: INCR + EXPIRE-on-first, auto_kafka_redis.py:
348-366 — the window starts at the first event and expires TTL later,
unlike tumbling epoch windows).

The limiter runs in the JVM: ``RateLimit.java``, beside this module, is
a ``flatMapGroupsWithState`` function keyed by ``user_id`` with state
(window start µs, admitted) per user, compiled with ``javac`` at the
first ``rate_limit_stream`` call and cached per source hash. Its
event-time timeout fires at each window's end, so state holds the users
whose window is still open (SURVEY §2 scale notes), and Spark drops
late rows inside the operator. No Python worker runs in it. A
checkpoint written by an earlier limiter cannot be restarted with this
one: Spark refuses the pandas limiter's shard key with
``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``, and the older per-user
pandas state with a state-schema error too. There is no migration.

The other operators here are ``applyInPandasWithState`` kernels.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import warnings
import zipfile
from collections.abc import Iterator
from pathlib import Path
from typing import Any

import pandas as pd

# Python workers import this module while unpickling the stateful
# kernels; PySpark's state serializer concat of empty frames trips a
# pandas FutureWarning once per (worker, batch, key-group) — pure noise
# in any harness log. Scope the filter to that message, not the class.
warnings.filterwarnings(
    "ignore",
    message=".*DataFrame concatenation with empty or all-NA entries.*",
    category=FutureWarning,
)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RATE_OUTPUT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_RATE_COLS = [f.split()[0] for f in RATE_OUTPUT_SCHEMA.split(",")]
_RATE_LIMIT_SRC = Path(__file__).with_name("RateLimit.java")
_RATE_LIMIT_CLASS = "eventstream_notify_spark.streaming.RateLimit"
# (SparkContext, the RateLimit class loaded in its JVM): one load per context
_rate_limit_loaded: tuple[Any, Any] | None = None
_rate_limit_lock = threading.Lock()


def _rate_limit_jar(source: Path, classpath: str, java_home: str, version: str) -> Path:
    """The compiled limiter in the user cache, built on first use.

    The jar's name hashes ``source`` and ``version`` (the Java and Spark
    versions it is compiled for), so an edit or an upgrade rebuilds it.
    It is written under a private name and published with an atomic
    ``os.replace``: racing first uses each publish a whole jar."""
    key = hashlib.sha256(source.read_bytes() + version.encode()).hexdigest()[:16]
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    jar = cache / "eventstream_notify_spark" / f"ratelimit-{key}.jar"
    if jar.exists():
        return jar
    jdk_bin = os.path.join(java_home, "bin")
    javac = shutil.which("javac", path=jdk_bin) or shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "rate_limit_stream compiles its operator with `javac`, which is "
            f"neither in {jdk_bin} nor on PATH: install a JDK"
        )
    jar.parent.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=jar.parent) as tmp:
        built = subprocess.run(
            [javac, "-nowarn", "-cp", classpath, "-d", tmp, str(source)],
            capture_output=True,
            text=True,
        )
        if built.returncode:
            raise RuntimeError(f"javac failed on {source}:\n{built.stderr}")
        part = os.path.join(tmp, jar.name)
        with zipfile.ZipFile(part, "w") as z:
            for cls in Path(tmp).rglob("*.class"):
                z.write(cls, cls.relative_to(tmp).as_posix())
        os.replace(part, jar)
    return jar


def _rate_limit_class(spark: SparkSession):
    """The RateLimit class, compiled if need be and loaded once per
    SparkContext: ``addJar`` ships it to the tasks, and a class loader
    over the jar makes it on the driver. Nothing is set on the session."""
    global _rate_limit_loaded
    sc = spark.sparkContext
    with _rate_limit_lock:
        if _rate_limit_loaded is None or _rate_limit_loaded[0] is not sc:
            jvm = sc._jvm
            prop = jvm.java.lang.System.getProperty
            jar = _rate_limit_jar(
                _RATE_LIMIT_SRC,
                prop("java.class.path"),
                prop("java.home"),
                f"java {prop('java.specification.version')} spark {spark.version}",
            )
            sc._jsc.sc().addJar(str(jar))
            urls = sc._gateway.new_array(jvm.java.net.URL, 1)
            urls[0] = jvm.java.io.File(str(jar)).toURI().toURL()
            loader = jvm.java.net.URLClassLoader(
                urls, jvm.java.lang.Thread.currentThread().getContextClassLoader()
            )
            _rate_limit_loaded = (sc, loader.loadClass(_RATE_LIMIT_CLASS))
        return _rate_limit_loaded[1]


def rate_limit_stream(
    events: DataFrame,
    limit: int = 5,
    window_s: int = 60,
    watermark: str | None = "60 seconds",
) -> DataFrame:
    """First-event-anchored rate limit over a stream. ``events`` must
    carry the ``RATE_OUTPUT_SCHEMA`` columns, with event time ``ts``.
    Pass ``watermark=None`` when an upstream operator already declared
    one (Spark disallows redefinition past a stateful operator).

    Runs ``RateLimit.java``: a ``flatMapGroupsWithState`` keyed by
    ``user_id``, with state (window start µs, admitted) per user and an
    event-time timeout at the window's end, so state holds the users
    whose window the watermark has not passed. Rows with a NULL
    ``user_id`` share one window, as one user. Rows at or below the
    watermark are dropped before the limiter sees them (Spark's
    late-row filter runs inside the operator under an event-time
    timeout). The first call in a SparkContext compiles the class
    with the JDK's ``javac`` (once per source, cached under
    ``~/.cache/eventstream_notify_spark``) and loads it.

    Checkpoints: one written by an earlier limiter cannot be restarted
    with this one. Spark refuses the pandas limiter keyed by user shard
    with ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE`` (int shard key, now a
    long user key), and the older pandas limiter keyed by ``user_id``
    on its state schema. There is no migration: start on a new
    checkpoint directory."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    spark = events.sparkSession
    jvm, gw = spark.sparkContext._jvm, spark.sparkContext._gateway
    types = gw.new_array(jvm.java.lang.Class, 2)
    types[0] = types[1] = jvm.java.lang.Long.TYPE
    args = gw.new_array(jvm.java.lang.Object, 2)
    args[0], args[1] = limit, window_s * 1_000_000
    limiter = _rate_limit_class(spark).getDeclaredConstructor(types).newInstance(args)
    return DataFrame(
        limiter.apply(events.select(*_RATE_COLS)._jdf, RATE_OUTPUT_SCHEMA), spark
    )


EWMA_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts_us long, ewma double"
)
EWMA_STATE_SCHEMA = "vals array<long>"
EWMA_LOOKBACK = 20  # window: current row + 19 predecessors


def ewma_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful streaming EWMA — the exact-integer ts_ewma kernel
    (alpha = 1/2 as power-of-two weights over a 20-row lookback)
    carried across micro-batches: state is the last 19 quantized
    values, so the first rows of batch N+1 see exactly the window the
    batch operator would. Weighted sums run in arbitrary-precision
    Python ints with an O(1) sliding recurrence
    (num_p = 2*num_{p-1} + v_p, minus the evicted 2^19 term when the
    window is full); the only floats are the final two IEEE divisions
    — bit-identical to the batch/oracle formula."""
    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    hist: list[int] = list(state.get[0]) if state.exists else []
    last_ts = None
    # applyInPandasWithState guarantees only grouping by key — a
    # group's micro-batch rows can arrive as MULTIPLE Arrow chunks in
    # shuffle-interleave order (>~10k rows per group, or rows from
    # several map tasks). Sorting each chunk independently would run
    # the recurrence over mis-ordered frames, so materialize the whole
    # group and sort ONCE before computing.
    chunks = [c for c in pdfs if len(c)]
    pdf = (
        pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        if chunks
        else None
    )
    if pdf is not None:
        vints = [int(v) for v in pdf["v_int"]]
        arr = hist + vints
        h = len(hist)
        out = []
        num = 0
        for p in range(h, len(arr)):
            lo = max(0, p - (EWMA_LOOKBACK - 1))
            length = p - lo + 1
            if p == h or lo == 0 and length < EWMA_LOOKBACK:
                # (re)seed: window still growing or first row of batch
                num = sum(
                    v << (length - 1 - i)
                    for i, v in enumerate(arr[lo : p + 1])
                )
            elif length == EWMA_LOOKBACK and p - 1 >= h and lo - 1 >= 0:
                # full window sliding: evict oldest (weight 2^19)
                num = 2 * (num - (arr[lo - 1] << (EWMA_LOOKBACK - 1))) + arr[p]
            else:
                num = 2 * num + arr[p]
            den = (1 << length) - 1
            out.append((float(num) / float(den)) / 1e6)
        res = pdf[["event_id", "ts_us"]].copy()
        res.insert(0, "user_id", user_id)
        res["ewma"] = out
        if len(res):
            last_ts = int(res["ts_us"].iloc[-1])
        hist = arr[-(EWMA_LOOKBACK - 1):]
        yield res
    state.update((hist,))
    if last_ts is not None:
        # evict users idle for one full day of event time
        state.setTimeoutTimestamp(last_ts // 1000 + 86_400_000)


def ewma_stream(events: DataFrame, watermark: str | None = "60 seconds") -> DataFrame:
    """Streaming twin of ts_ewma. ``events`` must carry event-time
    ``ts``; emits (user_id, event_id, ts_us, ewma) per input row."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    keyed = events.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1e6).cast("long").alias("v_int"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        ewma_fn,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


MEDIAN_OUTPUT_SCHEMA = "user_id long, event_id long, ts_us long, med_mv double"
MEDIAN_STATE_SCHEMA = "vals array<long>"
MEDIAN_LOOKBACK = 21  # current row + 20 predecessors


def rolling_median_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful streaming rolling median — the zx_rolling_median
    kernel carried across micro-batches: state is the last 20
    quantized values per user, so batch N+1's first rows see exactly
    the frame the batch window operator would. Median of <= 21 ints
    per row; even warm-up frames average the two middles — the same
    interpolation the batch twin and DuckDB's window median use."""
    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    hist: list[int] = list(state.get[0]) if state.exists else []
    last_ts = None
    # Same chunk-ordering hazard as ewma_fn: materialize the whole
    # group and sort once — per-chunk sorting is wrong when a group
    # spans multiple Arrow chunks.
    chunks = [c for c in pdfs if len(c)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out = []
        for v in pdf["v"]:
            hist.append(int(v))
            if len(hist) > MEDIAN_LOOKBACK:
                hist.pop(0)
            w = sorted(hist)
            n = len(w)
            med = (
                float(w[n // 2])
                if n % 2 == 1
                else (w[n // 2 - 1] + w[n // 2]) / 2.0
            )
            out.append(med)
        res = pdf[["event_id", "ts_us"]].copy()
        res.insert(0, "user_id", user_id)
        res["med_mv"] = out
        if len(res):
            last_ts = int(res["ts_us"].iloc[-1])
        yield res
    state.update((hist[-(MEDIAN_LOOKBACK - 1):],))
    if last_ts is not None:
        state.setTimeoutTimestamp(last_ts // 1000 + 86_400_000)


def rolling_median_stream(
    events: DataFrame, watermark: str | None = "60 seconds"
) -> DataFrame:
    """Streaming twin of zx_rolling_median; emits one median per input
    row, continuing each user's 21-row frame across micro-batches."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    keyed = events.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        rolling_median_fn,
        MEDIAN_OUTPUT_SCHEMA,
        MEDIAN_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


CEP_OUTPUT_SCHEMA = "user_id long, event_id long, ts_us long"
CEP_STATE_SCHEMA = "run int"
CEP_BURST_LEN = 3  # alert fires on the 3rd consecutive error


def cep_burst_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful streaming CEP: per-user consecutive-error-run
    detector. State is ONE int — the length of the error run in
    progress at the batch boundary — so a burst spanning micro-batches
    still fires exactly once, on its 3rd error. Emits the alert row
    (the 3rd error's identity); runs longer than 3 fire no further
    alerts until a non-error resets the run — i.e. one alert per
    maximal burst, anchored at its 3rd element, which is what the
    gaps-and-islands oracle counts."""
    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    run = int(state.get[0]) if state.exists else 0
    chunks = [c for c in pdfs if len(c)]
    last_ts = None
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out_ids, out_ts = [], []
        for eid, ts_us, et in zip(
            pdf["event_id"], pdf["ts_us"], pdf["event_type"]
        ):
            if et == "error":
                run += 1
                if run == CEP_BURST_LEN:
                    out_ids.append(int(eid))
                    out_ts.append(int(ts_us))
            else:
                run = 0
        last_ts = int(pdf["ts_us"].iloc[-1])
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_ids),
                "event_id": out_ids,
                "ts_us": out_ts,
            }
        )
    state.update((run,))
    if last_ts is not None:
        state.setTimeoutTimestamp(last_ts // 1000 + 86_400_000)


def cep_burst_stream(
    events: DataFrame, watermark: str | None = "60 seconds"
) -> DataFrame:
    """Streaming CEP over the event stream; emits one alert row per
    per-user burst of 3+ consecutive errors (at the 3rd error).

    ORDERED-REPLAY CONTRACT: the run counter carried across batch
    boundaries assumes batches deliver each user's events in event-time
    order (true for the bounded file replay and any log-ordered source,
    e.g. a per-user-keyed Kafka partition — the reference's layout).
    An in-watermark late event arriving in a LATER batch is folded
    after newer events, so on a genuinely out-of-order source alerts
    can diverge from the batch gaps-and-islands oracle. Handling that
    source class needs a buffer-until-watermark variant (hold rows in
    state until ts <= watermark, then fold in ts order) — a deliberate
    state-size trade this operator does not pay."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    keyed = events.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        cep_burst_fn,
        CEP_OUTPUT_SCHEMA,
        CEP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


CEP_BUF_STATE_SCHEMA = (
    "run int, bts array<long>, bid array<long>, berr array<boolean>"
)


def cep_burst_buffered_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Late-event-safe CEP variant: buffer rows in state until the
    watermark passes them, then fold in (ts_us, event_id) order — the
    buffer-until-watermark contract cep_burst_fn documents but does
    not pay for. State = run counter + the in-flight rows between the
    watermark and the frontier (bounded by the lateness budget x
    per-user rate, NOT by stream length). The event-time timeout is
    set just past the newest buffered row, so when the watermark
    passes the frontier a timed-out invocation flushes the remainder
    — on a bounded replay every row eventually folds."""
    (user_id,) = key
    wm_us = state.getCurrentWatermarkMs() * 1000

    def fold(run: int, ts, eid, err):
        out_ids, out_ts = [], []
        for t, i, e in zip(ts, eid, err):
            if e:
                run += 1
                if run == CEP_BURST_LEN:
                    out_ids.append(int(i))
                    out_ts.append(int(t))
            else:
                run = 0
        return run, out_ids, out_ts

    if state.hasTimedOut:
        run, bts, bid, berr = state.get
        if not bts:
            state.remove()  # idle GC: nothing buffered, nothing due
            return
        order = sorted(range(len(bts)), key=lambda i: (bts[i], bid[i]))
        run, out_ids, out_ts = fold(
            int(run),
            [bts[i] for i in order],
            [bid[i] for i in order],
            [berr[i] for i in order],
        )
        if out_ids:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_ids),
                    "event_id": out_ids,
                    "ts_us": out_ts,
                }
            )
        state.update((run, [], [], []))
        state.setTimeoutTimestamp(wm_us // 1000 + 86_400_000)
        return

    run, bts, bid, berr = (
        (int(state.get[0]), list(state.get[1]), list(state.get[2]),
         list(state.get[3]))
        if state.exists
        else (0, [], [], [])
    )
    for pdf in pdfs:
        if len(pdf):
            bts.extend(int(t) for t in pdf["ts_us"])
            bid.extend(int(i) for i in pdf["event_id"])
            berr.extend(bool(e) for e in (pdf["event_type"] == "error"))
    order = sorted(range(len(bts)), key=lambda i: (bts[i], bid[i]))
    ready = [i for i in order if bts[i] <= wm_us]
    pend = [i for i in order if bts[i] > wm_us]
    run, out_ids, out_ts = fold(
        run,
        [bts[i] for i in ready],
        [bid[i] for i in ready],
        [berr[i] for i in ready],
    )
    if out_ids:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_ids),
                "event_id": out_ids,
                "ts_us": out_ts,
            }
        )
    state.update(
        (
            run,
            [bts[i] for i in pend],
            [bid[i] for i in pend],
            [berr[i] for i in pend],
        )
    )
    if pend:
        # fire once the watermark reaches the frontier; clamp above
        # the current watermark (event-time timeout must be strictly
        # later) without overshooting — a +1 ms overshoot would miss
        # the bounded replay's final no-data batch, where the
        # watermark stops exactly at the frontier
        state.setTimeoutTimestamp(
            max(max(bts[i] for i in pend) // 1000, wm_us // 1000 + 1)
        )
    else:
        last = max(bts) // 1000 if bts else wm_us // 1000
        state.setTimeoutTimestamp(last + 86_400_000)


def cep_burst_buffered_stream(
    events: DataFrame, watermark: str = "60 seconds"
) -> DataFrame:
    """Buffer-until-watermark CEP burst detector — same alert
    semantics and output schema as cep_burst_stream, but correct on
    genuinely out-of-order sources: in-watermark late events fold in
    event-time order, at the cost of holding the in-flight rows
    (watermark..frontier) in state. Pick this off log-ordered
    sources; pick cep_burst_stream when the source preserves per-key
    order (one int of state instead of a row buffer)."""
    from pyspark.sql import functions as F

    keyed = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        cep_burst_buffered_fn,
        CEP_OUTPUT_SCHEMA,
        CEP_BUF_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


CUSUM_OUTPUT_SCHEMA = "user_id long, event_id long, ts_us long, s_scaled long"
CUSUM_STATE_SCHEMA = "pre long, minp long, sprev long"


def cusum_alert_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful streaming CUSUM (Page): per-user reflected statistic
    S = max(0, S + x - k) carried across micro-batches as THREE
    bigints (prefix sum, running min incl. the virtual 0, previous
    S), emitting one alert row per excursion at the h-crossing. The
    integer recurrence is the exact closed form the batch twin
    (operators/timeseries.cusum_alert) evaluates with windows, so a
    bounded replay hash-matches the same DuckDB oracle. Same
    ordered-replay contract as cep_burst_stream (state.py)."""
    from eventstream_notify_spark.operators.timeseries import (
        CUSUM_H,
        CUSUM_K,
    )

    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    pre, minp, sprev = (
        (int(state.get[0]), int(state.get[1]), int(state.get[2]))
        if state.exists
        else (0, 0, 0)
    )
    chunks = [c for c in pdfs if len(c)]
    last_ts = None
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out_uid, out_eid, out_ts, out_s = [], [], [], []
        for eid, ts_us, v in zip(
            pdf["event_id"], pdf["ts_us"], pdf["v_int"]
        ):
            pre += int(v) - CUSUM_K
            if pre < minp:
                minp = pre
            s = pre - minp  # minp <= 0 always (seeded with virtual 0)
            if sprev < CUSUM_H <= s:
                out_uid.append(int(user_id))
                out_eid.append(int(eid))
                out_ts.append(int(ts_us))
                out_s.append(s)
            sprev = s
        last_ts = int(pdf["ts_us"].iloc[-1])
        yield pd.DataFrame(
            {
                "user_id": pd.Series(out_uid, dtype="int64"),
                "event_id": pd.Series(out_eid, dtype="int64"),
                "ts_us": pd.Series(out_ts, dtype="int64"),
                "s_scaled": pd.Series(out_s, dtype="int64"),
            }
        )
    state.update((pre, minp, sprev))
    if last_ts is not None:
        state.setTimeoutTimestamp(last_ts // 1000 + 86_400_000)


def cusum_alert_stream(
    events: DataFrame, watermark: str | None = "60 seconds"
) -> DataFrame:
    """Streaming twin of cusum_alert: emits one alert row per
    excursion crossing, exactly the batch operator's output."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    keyed = events.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1000).cast("long").alias("v_int"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        cusum_alert_fn,
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# ----------------------------------------------- absence detection

ABSENCE_OUTPUT_SCHEMA = (
    "user_id long, gap_start_us long, gap_end_us long, gap_us long"
)
ABSENCE_STATE_SCHEMA = "last_ts_us long"
ABSENCE_GAP_US = 2 * 86_400 * 1_000_000  # silent > 2 days => alert
# Gaps LONGER than the state TTL are never alertable: in a
# multi-microbatch run the watermark passes last_ts + TTL, the state
# times out, and the user's next event re-enters as NEW — the gap is
# structurally unobservable. The kernel drops such gaps explicitly so
# single-batch replays (where eviction cannot fire mid-corpus) agree
# with multi-batch runs, and the batch oracle carries the same bound.
ABSENCE_TTL_US = 30 * 86_400 * 1_000_000


def absence_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Heartbeat-absence detector: per user, remember only the LAST
    event time; when the next event arrives more than ABSENCE_GAP_US
    later, emit the silence interval it closes. Retrospective
    emission (on the closing event, not a wall-clock timer) is what
    keeps the operator deterministic under replay — processing-time
    timers fire differently per run, event gaps do not.

    State is ONE bigint per user — the cheapest stateful operator in
    the module — with the family's standard 30-day event-time idle
    eviction (a user silent past eviction re-enters as new; the
    churn report, not this alert, owns that regime). Gaps exceeding
    the TTL are dropped IN the kernel — see ABSENCE_TTL_US — so
    replays agree regardless of how the corpus splits into
    micro-batches."""
    if state.hasTimedOut:
        state.remove()
        return
    (user_id,) = key
    last_ts = int(state.get[0]) if state.exists else None
    chunks = [c for c in pdfs if len(c)]
    if chunks:
        # Same chunk-ordering hazard as ewma_fn: materialize the
        # whole group and sort once.
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out = []
        for ts_us in pdf["ts_us"]:
            ts_us = int(ts_us)
            if (
                last_ts is not None
                and ABSENCE_GAP_US < ts_us - last_ts <= ABSENCE_TTL_US
            ):
                out.append(
                    (user_id, last_ts, ts_us, ts_us - last_ts)
                )
            if last_ts is None or ts_us > last_ts:
                last_ts = ts_us
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "gap_start_us",
                    "gap_end_us",
                    "gap_us",
                ],
            )
    if last_ts is not None:
        state.update((last_ts,))
        state.setTimeoutTimestamp(last_ts // 1000 + ABSENCE_TTL_US // 1000)


def absence_stream(
    events: DataFrame, watermark: str | None = "60 seconds"
) -> DataFrame:
    """Streaming absence alerts over an event-time stream carrying
    ``ts``; emits one row per closed silence interval > 2 days."""
    from pyspark.sql import functions as F

    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    keyed = events.select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.unix_micros("ts").alias("ts_us"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        absence_fn,
        ABSENCE_OUTPUT_SCHEMA,
        ABSENCE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
