"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Per-query timing = full execution to a count/collect-free sink
(``df.write.format("noop")``) so we measure engine time, not driver
materialization of big results.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from eventstream_notify_spark.session import get_spark  # noqa: E402

# Headline set: the flagship pipeline + one representative per family.
HEADLINE = [
    "pipeline_e2e",
    "sink_keyed_upsert",
    "rate_limit_user",
    "agg_hash",
    "join_shuffle",
    "dedup_near",
    "sim_search_cosine",
    "ts_similarity",
]

# Reduced-cadence set (VERDICT r10 #7): A/B pairs where the OTHER side
# is the declared production path. The demoted side stays registered,
# oracle-checked, and CI-tested (tests/test_registry_contract.py pins
# this map against the registry); it just doesn't run in the DEFAULT
# bench — pass --full for the whole matrix (the round-exit sf0.001
# record pass always uses --full so the freshness gate sees every
# fingerprint). Map: demoted -> (production sibling, why).
DEMOTED: dict[str, tuple[str, str]] = {
    "zx_sim_search_pq": (
        "zx_sim_search_ivfpq",
        "PQ codec alone; the composed IVF+PQ tier is the scale path",
    ),
    "zx_sim_search_ivf": (
        "zx_sim_search_ivf_kmeans",
        "deterministic-sample centroids; k-means-refined tier supersedes",
    ),
    "zx_kmeans_parallel_init": (
        "zx_sim_search_ivf_kmeans",
        "the init step the IVF-kmeans tier consumes",
    ),
    "zx_mutual_knn_pairs": (
        "zx_mutual_knn_pairs_lsh",
        "exact block-quadratic verifier; LSH composition is the "
        "100 TB path",
    ),
    "zx_dedup_near_embedding": (
        "zx_dedup_near_embedding_lsh",
        "exact block-quadratic verifier; banded LSH is the 100 TB path",
    ),
    "zx_sliding_dau": (
        "zx_sliding_dau_hll",
        "exact 7x pair expansion; HLL sketches are the scale path",
    ),
    "zx_skyline_pareto": (
        "zx_skyline_pareto_bucketed",
        "first cut; the bucket-pruned variant is the scale path",
    ),
    "zx_mm_decode_stub": (
        "zx_mm_decode",
        "stub codec; superseded by the real PPM/BMP decode in r6",
    ),
    "zx_stream_dedup_exact": (
        "zx_stream_dedup_exact_bounded",
        "state linear in distinct contents; bloom+escrow tier is the "
        "100 TB posture",
    ),
    "zx_stream_cep_burst": (
        "zx_stream_cep_burst_buffered",
        "ordered-source fast path; the buffered twin is late-event-safe",
    ),
}


def _pcts(vals: list[float]) -> dict[str, float | None]:
    vals = sorted(vals)
    n = len(vals)
    p = lambda q: round(vals[min(n - 1, int(q * n))], 3) if n else None  # noqa: E731
    return {"p50": p(0.5), "p99": p(0.99), "max": p(1.0), "events": n}


def _latency_run(spark, duration_s: float, rate: int) -> dict:
    """One latency probe: start the REAL pipeline against a rate
    source, BARRIER on the first committed non-empty micro-batch, then
    measure a trailing steady window anchored at that first commit
    (skipping a short post-commit warm tail). Raises on a zero-event
    capture — a silent 0-event run is a harness failure, never data."""
    import tempfile

    from eventstream_notify_spark.sources.events import rate_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline

    warm_skip_s = 3.0  # first commits still pay codegen/state-open cost
    latencies: list[tuple[float, float]] = []  # (sink wall clock, latency)
    first_commit: list[float] = []
    state_rows: dict[int, int] = {}  # batchId -> total state-store rows

    def probe_sink(batch_df, epoch_id: int) -> None:
        now = time.time()
        rows = batch_df.select("ts").collect()
        if rows and not first_commit:
            first_commit.append(now)
        for r in rows:
            latencies.append((now, now - r.ts.timestamp()))

    def sample_state(q) -> None:
        # record stateOperators numRowsTotal per committed batch — the
        # loud-failure channel for unbounded-state regressions (the
        # r8 weak flag: an uncapped index looks fine in a latency
        # number and only shows up in state growth)
        p = q.lastProgress
        if p and p.get("stateOperators"):
            state_rows[p["batchId"]] = sum(
                op.get("numRowsTotal", 0) for op in p["stateOperators"]
            )

    with tempfile.TemporaryDirectory() as ckpt:
        t0 = time.time()
        q = start_pipeline(
            rate_events_stream(spark, events_per_second=rate),
            checkpoint_dir=ckpt,
            sink=probe_sink,
            # rate-source users cycle 1..5 instantly; a 60 s window
            # would admit only ~5*5 events. Small window => steady flow.
            rate_window_s=1,
            rate_limit=rate,
            # 5 s dedup TTL (vs the pipeline's 60 s default): rate-
            # source ids are unique so the TTL drops nothing, but it
            # pulls the dedup state's GC plateau inside the probe
            # window — which is what makes the flat-trend assertion on
            # state rows MEASURABLE instead of vacuous (a 60 s TTL is
            # still in its linear fill phase when a 23 s probe ends)
            ttl="5 seconds",
        )
        try:
            # barrier: the measurement clock starts at the first
            # committed non-empty batch, not at query start — before
            # that, everything is JVM/codegen/state-store warmup.
            deadline = t0 + 90.0
            while not first_commit and time.time() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(f"pipeline died: {q.exception()}")
                time.sleep(0.2)
            if not first_commit:
                raise RuntimeError("no committed batch within 90 s")
            t_end = first_commit[0] + warm_skip_s + duration_s
            while time.time() < t_end:
                sample_state(q)
                time.sleep(0.2)
        finally:
            try:
                sample_state(q)
                q.stop()
            except Exception:  # noqa: BLE001 — shutdown noise, run already captured
                pass
    steady_from = first_commit[0] + warm_skip_s
    steady = [lat for t, lat in latencies if t >= steady_from]
    if not steady:
        raise RuntimeError(
            f"zero steady-state events captured ({len(latencies)} total) — "
            "harness failure, not a latency measurement"
        )
    series = [state_rows[b] for b in sorted(state_rows)]
    # flat-trend gate: once past the TTL fill phase, state must
    # plateau — the tail of the series may not exceed its middle by
    # more than noise. Linear growth (no GC / unbounded index) makes
    # tail ~2x middle and fails loudly.
    flat = True
    if len(series) >= 6:
        mid = series[len(series) // 2 - 1 : len(series) // 2 + 2]
        tail = series[-3:]
        flat = max(tail) <= max(mid) * 1.6 + 10
    if not flat:
        raise RuntimeError(
            f"state rows still growing at probe end ({series}) — "
            "bounded-state regression, not box noise"
        )
    return {
        "first_commit_s": round(first_commit[0] - t0, 2),
        "steady": _pcts(steady),
        "all": _pcts([lat for _, lat in latencies]),
        "state_rows": series,
        "state_rows_flat": flat,
    }


def latency_mode(duration_s: float = 20.0, rate: int = 20, runs: int = 3) -> None:
    """--latency: produce -> sink latency at the reference's configured
    producer rate (20 ev/s, auto_kafka_redis.py:51 produce_interval_s
    0.05), through the REAL streaming pipeline (watermark dedup ->
    stateful rate limit -> foreachBatch sink). Each event's latency is
    sink-wall-clock minus its rate-source event time.

    Three consecutive probes in one process (median-of-3 is the
    headline number; the per-run spread is reported so a noisy box is
    visible instead of silently polluting the record). Exits nonzero
    if any probe captures zero steady events or never commits."""
    spark = get_spark("bench-latency")
    spark.sparkContext.setLogLevel("ERROR")
    # latency-path sizing: state-store instance count == shuffle
    # partitions, and each instance pays per-batch open/commit. 32 is
    # the right THROUGHPUT shape; for a 20 ev/s latency probe it's 31
    # idle state-store commits per trigger. Pinned per-checkpoint at
    # first start, so this scopes to this run only.
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    # the r9 creep's root cause (0.97 -> 1.147 s over three rounds):
    # NO-DATA micro-batches. At a steady 20 ev/s every batch has data,
    # so the empty batches the engine interleaves to advance the
    # watermark only add state-commit + scheduling time between data
    # batches — disabling them measured p50 1.016 -> 0.66 s (35%).
    # Production streams that can go IDLE keep them on (they are what
    # fires event-time timeouts with no input); a latency probe of a
    # never-idle stream doesn't need them.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # tiny state (5 users + <=rate*TTL dedup ids): the heap-backed
    # provider opens in milliseconds where RocksDB pays file-system
    # setup per instance — right for a latency probe, wrong for the
    # 100 TB throughput path (which keeps RocksDB, session.py).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    # pay JVM/codegen/Python-worker cold start on a throwaway bounded
    # run of the SAME pipeline (dedup -> stateful rate limit ->
    # foreachBatch) before any measured probe: run 1 previously
    # carried a 7-8 s first commit that was all cold start, not
    # pipeline latency (VERDICT r7 #2). The cold cost is reported
    # separately instead of blended into run 1.
    import tempfile as _tf

    from eventstream_notify_spark.sources.events import file_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline

    t_cold = time.time()
    wq = start_pipeline(
        file_events_stream(spark, "/root/testdata/sf0.001"),
        _tf.mkdtemp(prefix="ckpt_latwarm_"),
        lambda df, _eid: df.count(),
        rate_window_s=86400,
        available_now=True,
    )
    wq.awaitTermination()
    cold_start_s = round(time.time() - t_cold, 2)
    # file_events_stream re-tunes shuffle partitions (8); restore the
    # probe's 1-partition state-store sizing for the measured runs
    spark.conf.set("spark.sql.shuffle.partitions", "1")

    results: list[dict] = []
    for i in range(runs):
        try:
            r = _latency_run(spark, duration_s, rate)
        except RuntimeError as e:
            print(
                json.dumps(
                    {"metric": "e2e_latency", "value": None,
                     "error": str(e), "run": i + 1, "runs_ok": results}
                )
            )
            sys.exit(1)
        results.append(r)
    p50s = sorted(r["steady"]["p50"] for r in results)
    spread = round(p50s[-1] / max(p50s[0], 1e-9), 2)
    # p99 gate (r10 verdict #5): the tail is pinned alongside the
    # median — per run, steady p99 must stay under the soft ceiling
    # (2x that run's p50) so a tail regression can't hide under a
    # healthy median. Recorded per run + as the median headline.
    p99s = sorted(r["steady"]["p99"] for r in results)
    p99_ok = all(
        r["steady"]["p99"] <= 2.0 * r["steady"]["p50"] for r in results
    )
    out = {
        "metric": "e2e_latency",
        "value": p50s[len(p50s) // 2],
        "unit": "sec",
        "runs": results,
        "p50_spread": spread,
        "stable": spread <= 2.0,
        "p99": p99s[len(p99s) // 2],
        "p99_ceiling": "2x p50 per run",
        "p99_within_ceiling": p99_ok,
        "cold_start_s": cold_start_s,  # paid once, before any probe
        "first_commit_s": [r["first_commit_s"] for r in results],
        "rate_ev_s": rate,
        "duration_s": duration_s,
    }
    print(json.dumps(out))


def scaling_mode() -> None:
    """--scaling: run every registered query once at sf0.01 and sf0.1
    and report the time ratio. 10x data should cost <=~10x time for a
    linear operator; anything >15x is flagged super-linear — the cheap
    local proxy for 'would this plan survive a 100x scale-up'. Noise
    guard: ratios are only flagged when the sf0.1 time is above 0.5 s
    (sub-half-second queries are dominated by fixed per-query overhead
    and jitter, not scaling behavior)."""
    small = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    big = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    cleanup = make_cleanup(spark)
    # scaling is an AUDIT: always the full matrix, demotions included
    t_small, _ = run_suite(spark, small, 1, cleanup, full=True)
    t_big, _ = run_suite(spark, big, 1, cleanup, full=True)
    ratios: dict[str, float] = {}
    flagged: dict[str, float] = {}
    for name, tb in t_big.items():
        ts = t_small.get(name, -1.0)
        if ts <= 0 or tb <= 0:
            continue
        r = round(tb / max(ts, 0.01), 1)
        ratios[name] = r
        if r > 15.0 and tb > 0.5:
            flagged[name] = r
    out = {
        "metric": "scaling_ratio_sf001_to_sf01",
        "value": round(
            sorted(ratios.values())[len(ratios) // 2], 2
        ) if ratios else None,
        "unit": "x",
        "ratios": ratios,
        "super_linear": flagged,
        "small": t_small,
        "big": t_big,
    }
    print(json.dumps(out, separators=(",", ":")))
    print(
        json.dumps(
            {
                "metric": "scaling_summary",
                "median_ratio": out["value"],
                "super_linear": flagged,
                "n": len(ratios),
            },
            separators=(",", ":"),
        )
    )


def plan_fingerprint(df) -> str:
    """Stable hash of the physical plan shape: expression ids, plan
    ids, file paths, statistics and the host's partition counts are
    normalized out so the fingerprint only moves when the PLAN moves. Used to classify a
    round-over-round time delta as VARIANCE (same plan, noisy box) vs
    PLAN_CHANGE (a real regression or improvement)."""
    import hashlib
    import re

    try:
        s = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # noqa: BLE001 — fingerprint is best-effort metadata
        return "na"
    s = re.sub(r"#\d+[A-Z]*", "#x", s)
    s = re.sub(r"\[id=#?\d+\]", "", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"(file|dbfs|s3a?|hdfs):[^\s,\)\]]+", "PATH", s)
    s = re.sub(r"q_[0-9a-f]{12}", "q_x", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    # FileScan metadata (DataFilters/PushedFilters/ReadSchema/paths)
    # is TRUNCATED at a fixed raw length by Spark's toString — raw
    # expr-id digit counts shift the cut point, so two identical plans
    # can normalize to different strings (measured: a same-plan
    # 'flip' in the TPC-H decade check). Keep the node + projected
    # columns; pushdown regressions are the plan gate's job, not the
    # fingerprint's.
    s = re.sub(r"(FileScan \w+ \[[^\]]*\]).*", r"\1", s)
    # Catalyst's RewriteDistinctAggregates numbers its Expand gids by
    # HASH-SET iteration order — the same query text plans with
    # l_partkey as gid 1 in one build and gid 2 in the next (measured
    # in-session: ~30 queries flapped, the r9 classifier's spurious
    # PLAN_CHANGE tail). Canonicalize: gid constants to 'n', then
    # every [...] list's depth-0 segments sorted (with bare-integer
    # segments — gid markers in Expand rows — also mapped to 'n').
    # Within-list ORDER is not a perf signal; node structure is kept.
    s = re.sub(r"gid#x = \d+", "gid#x = n", s)
    # higher-order-function lambda variables are numbered by a
    # session-global counter (lambda x_1 in one build, x_7 the next)
    s = re.sub(r"lambda ([A-Za-z]+)_\d+#x", r"lambda \1_n#x", s)
    # partition counts follow the host, not the plan: shuffle
    # partitions are SPARK_GRAFT_CPUS (tune_session) and Range splits
    # the default parallelism, so one plan hashed differently on a 4-
    # and a 32-core host (measured: 214 of 282 sf0.001 queries, every
    # diff an Exchange count or a Range split count). The partitioning
    # scheme and its keys stay in the hash.
    s = re.sub(
        r"(\(|, )\d+\)(?=, (?:ENSURE_REQUIREMENTS|REPARTITION_BY_\w+"
        r"|REBALANCE_PARTITIONS_BY_\w+))",
        r"\1n)",
        s,
    )
    s = re.sub(r"splits=\d+", "splits=n", s)
    # the Exchange keys inherit the same hash-order (parens, so the
    # bracket pass doesn't reach them)
    s = re.sub(
        r"hashpartitioning\(([^()]*)\)",
        lambda m: "hashpartitioning("
        + ", ".join(sorted(x.strip() for x in m.group(1).split(",")))
        + ")",
        s,
    )
    s = _canon_lists(s)
    return hashlib.md5(s.encode()).hexdigest()[:12]


def _canon_lists(s: str) -> str:
    """Sort the depth-0 comma segments of every bracketed [...] list
    (recursively; parens respected; bare-integer segments -> 'n') so
    hash-order-dependent list arrangements hash identically. Pure
    canonicalization for fingerprinting — never shown to a human."""

    def parse(i: int) -> tuple[str, int]:
        parts: list[str] = []
        buf: list[str] = []
        depth = 0
        while i < len(s):
            c = s[i]
            if c == "[":
                inner, i = parse(i + 1)
                buf.append("[" + inner + "]")
            elif c == "]":
                parts.append("".join(buf).strip())
                segs = ["n" if p.isdigit() else p for p in parts]
                return ", ".join(sorted(segs)), i + 1
            else:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth = max(0, depth - 1)
                if c == "," and depth == 0:
                    parts.append("".join(buf).strip())
                    buf = []
                else:
                    buf.append(c)
                i += 1
        parts.append("".join(buf).strip())
        return ", ".join(sorted(parts)), i

    out: list[str] = []
    i = 0
    while i < len(s):
        if s[i] == "[":
            inner, i = parse(i + 1)
            out.append("[" + inner + "]")
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


PREV_PATH = Path(__file__).resolve().parent / "bench_prev.json"

# Idle-calibration probes: stable, plan-diverse, and all >= ~0.5 s at
# the committed record (a 0.17 s probe false-flagged a clean 296 s
# run at 2.14x — sub-half-second queries are jitter, the suite's own
# movers rule). Each probe gets ONE untimed warm call (its specific
# codegen shapes aren't covered by warmup(), and the committed values
# are mid-suite-hot medians), then median-of-3 timed runs.
CALIBRATION = ["agg_hash", "join_shuffle", "alert_rules"]
CALIBRATION_MAX_RATIO = 1.5


def idle_probe(spark, sf_dir: str, sf: str, cleanup) -> dict:
    """Time the CALIBRATION queries (median-of-3 each) against their
    committed records. Median ratio > CALIBRATION_MAX_RATIO => the box
    is contended: the bench still runs and prints, but the committed
    record must not be overwritten (main() checks ``contended``).
    First run at an SF (no committed records) => trivially not
    contended."""
    try:
        prev = (
            json.loads(PREV_PATH.read_text()).get(str(sf), {}).get(
                "queries", {}
            )
            if PREV_PATH.exists()
            else {}
        )
    except Exception:  # noqa: BLE001
        prev = {}
    qs = entrymod.queries()
    ratios: dict[str, float] = {}
    for name in CALIBRATION:
        p = prev.get(name)
        if name not in qs or not p or p < 0.5:
            continue  # missing or jitter-dominated record: no signal
        try:  # untimed warm call: pay this probe's codegen once
            _exec_with_timeout(
                lambda n=name: qs[n](spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                spark=spark,
            )
        except Exception:  # noqa: BLE001 — probe must never fail the bench
            continue
        runs: list[float] = []
        for _ in range(3):
            cleanup()
            t0 = time.time()
            try:
                _exec_with_timeout(
                    lambda n=name: qs[n](spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save(),
                    spark=spark,
                )
            except Exception:  # noqa: BLE001 — probe must never fail the bench
                break
            runs.append(time.time() - t0)
        if runs:
            ratios[name] = round(sorted(runs)[len(runs) // 2] / p, 2)
    med = (
        sorted(ratios.values())[len(ratios) // 2] if ratios else None
    )
    # >=2 contributing probes required to declare contention: at small
    # SFs some probes fall under the 0.5 s jitter floor, and a single
    # noisy survivor must not veto the record refresh that keeps
    # demoted-query fingerprints fresh (ADVICE r11). One-probe medians
    # are reported but carry a low_signal note and gate only in the
    # extreme case below.
    low_signal = len(ratios) < 2
    # ADVICE r12: a lone surviving probe at >2x the threshold is not
    # jitter (sub-0.5s noise moves a probe tens of percent, not 3x) —
    # a genuinely contended box where only one probe clears the jitter
    # floor must still withhold the record write.
    lone_extreme = (
        low_signal
        and med is not None
        and med > 2 * CALIBRATION_MAX_RATIO
    )
    return {
        "ratios": ratios,
        "median_ratio": med,
        "threshold": CALIBRATION_MAX_RATIO,
        "low_signal": low_signal,
        "lone_extreme": lone_extreme,
        "contended": lone_extreme
        or (
            not low_signal
            and med is not None
            and med > CALIBRATION_MAX_RATIO
        ),
    }


def compare_to_prev(timings: dict, fps: dict, sf: str) -> dict:
    """Mechanical variance-vs-regression: load the previous committed
    run (bench_prev.json), ratio every common query, and classify
    >1.5x movers — same plan fingerprint => VARIANCE (box noise),
    changed fingerprint => PLAN_CHANGE (inspect: regression or
    deliberate rework). Sub-0.5s queries are jitter-dominated and
    never flagged."""
    if not PREV_PATH.exists():
        return {"prev": None}
    try:
        prev = json.loads(PREV_PATH.read_text())
    except Exception:  # noqa: BLE001
        return {"prev": "unreadable"}
    # the file is keyed by SF so a sf0.001 smoke run never pollutes
    # (or reads as a regression against) the sf0.1 round record
    prev = prev.get(str(sf)) or {}
    if not prev:
        return {"prev": f"no_record_at_sf{sf}"}
    pq, pf = prev.get("queries", {}), prev.get("fingerprints", {})
    movers: dict[str, dict] = {}
    ratios: list[float] = []
    for name, t in timings.items():
        t_prev = pq.get(name, -1.0)
        if t_prev is None or t_prev <= 0 or t is None or t <= 0:
            continue
        r = t / max(t_prev, 0.01)
        ratios.append(r)
        if (r > 1.5 or r < 1 / 1.5) and max(t, t_prev) > 0.5:
            same_plan = name in pf and pf.get(name) == fps.get(name)
            movers[name] = {
                "ratio": round(r, 2),
                "prev": t_prev,
                "cur": t,
                "class": "VARIANCE" if same_plan else "PLAN_CHANGE",
            }
    ratios.sort()
    return {
        "prev_n": len(pq),
        "median_ratio_vs_prev": round(ratios[len(ratios) // 2], 2) if ratios else None,
        "movers": movers,
        "n_plan_change": sum(1 for m in movers.values() if m["class"] == "PLAN_CHANGE"),
    }


def recall_mode() -> None:
    """--recall: ANN/near-dup recall at the bench SF (default sf0.1)
    so scale-driven recall drift is visible per round, not only pinned
    at sf0.01 in pytest. Exact baselines: sim_search_cosine (top-5
    brute force) and zx_dedup_near_embedding (exact label-blocked NN).
    Floors asserted where pytest pins them; exits nonzero on breach."""
    from collections import defaultdict

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-recall")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def topk(name: str) -> dict:
        top = defaultdict(set)
        for r in qs[name](spark, sf_dir).collect():
            top[r.query_id].add(r.vec_id)
        return top

    def overlap(exact: dict, approx: dict) -> float:
        qids = set(exact) & set(approx)
        if not qids:
            return 0.0
        return round(
            sum(len(exact[q] & approx[q]) / max(len(exact[q]), 1) for q in qids)
            / len(qids),
            3,
        )

    exact5 = topk("sim_search_cosine")
    # IVF variants emit top-3 of a cluster-restricted candidate set;
    # measure them against the exact top-3 (subset of the exact top-5
    # per query by score order is not recoverable from sets, so use
    # their own exact twin: recall@5 against exact5 understates — we
    # report overlap vs exact5 with each family's k noted).
    table = {}
    # sq8/pq pinned in tests/test_extensions.py; ivf/ivf_kmeans in
    # tests/test_scale_paths.py (multiprobe P=8 measured 0.845/0.88).
    # Floors sit at measured-at-sf0.1 minus a 0.05 margin (VERDICT
    # r11 #5: the old build-out floors left 10+ points of slack, so a
    # real recall regression in pq or ivfpq would have passed) —
    # RECALL_r11 measured sq8 0.98 / pq 0.89 / ivf 0.845 /
    # ivf_kmeans 0.88 / ivfpq 0.815 / bq 0.935.
    floors = {
        "sq8": 0.93,
        "pq": 0.84,
        "ivf": 0.8,  # measured-0.05 = 0.795; the build-out floor was
        # already tighter, keep it
        "ivf_kmeans": 0.83,
        "ivfpq": 0.765,  # composed losses (cell miss + residual-code
        # error); measured 0.815 at sf0.1, 0.90 at sf0.01
        "bq": 0.885,  # asymmetric refine (raw query vs bit reps over a
        # 4x Hamming pre-cut) measured 0.935 at sf0.1 — symmetric
        # Hamming-only shortlists measured 0.76 and hugged a 0.7 floor
    }
    for key, qname in [
        ("sq8", "zx_sim_search_sq8"),
        ("pq", "zx_sim_search_pq"),
        ("ivf", "zx_sim_search_ivf"),
        ("ivf_kmeans", "zx_sim_search_ivf_kmeans"),
        ("ivfpq", "zx_sim_search_ivfpq"),
        ("bq", "zx_sim_search_bq"),
    ]:
        if qname in qs:
            table[key] = overlap(exact5, topk(qname))
    # embedding near-dup: same-NN agreement, floor 0.99 (test_scale_paths)
    exact_nn = {
        r.vec_id: r.nn_vec_id
        for r in qs["zx_dedup_near_embedding"](spark, sf_dir).collect()
    }
    lsh_nn = {
        r.vec_id: r.nn_vec_id
        for r in qs["zx_dedup_near_embedding_lsh"](spark, sf_dir).collect()
    }
    common = set(exact_nn) & set(lsh_nn)
    table["nn_lsh_same"] = round(
        sum(1 for v in common if exact_nn[v] == lsh_nn[v]) / max(len(common), 1), 3
    )
    floors["nn_lsh_same"] = 0.99
    breaches = {k: (table[k], floors[k]) for k in floors if k in table and table[k] < floors[k]}
    print(
        json.dumps(
            {
                "metric": "ann_recall",
                "value": table.get("pq"),
                "unit": "recall",
                "recall": table,
                "floors": floors,
                "breaches": breaches,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
            }
        )
    )
    if breaches:
        sys.exit(1)


def main() -> None:
    if "--latency" in sys.argv:
        latency_mode()
        return
    if "--scaling" in sys.argv:
        scaling_mode()
        return
    if "--recall" in sys.argv:
        recall_mode()
        return
    # --n K: median-of-K per query. Default 1 (driver budget); medians
    # tame the ±60% single-shot jitter on sub-second queries.
    reps = 1
    if "--n" in sys.argv:
        reps = max(1, int(sys.argv[sys.argv.index("--n") + 1]))
    full = "--full" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    cleanup = make_cleanup(spark)
    # IDLE CALIBRATION (r10 verdict #1): before the suite, median-of-3
    # three cheap fixed queries against their committed records. A
    # contended box (the r10 blemish: a 396 s record committed vs the
    # 303 s idle run) shows up here as a broad slowdown — the run
    # still executes and prints, but REFUSES to overwrite the
    # committed record, so a loaded capture can never become the next
    # round's variance baseline.
    idle = idle_probe(spark, sf_dir, sf, cleanup)
    timings, fps = run_suite(spark, sf_dir, reps, cleanup, full=full)
    # WATCHDOG (r9 verdict #3): a stateful query stalling 5x+ past
    # the committed record (1 s floor: sub-second queries are all
    # jitter) gets a loud per-query provenance note, so a contended
    # driver run self-annotates instead of leaving a bare outlier
    # (the unreproduced 31.9 s stream_rolling_median of BENCH_r09).
    watchdog: dict[str, dict] = {}
    try:
        prev_q = (
            json.loads(PREV_PATH.read_text()).get(str(sf), {}).get(
                "queries", {}
            )
            if PREV_PATH.exists()
            else {}
        )
        for name, t in timings.items():
            p = prev_q.get(name)
            if p and p > 0 and t > max(5.0 * p, 1.0):
                watchdog[name] = {
                    "s": t,
                    "committed_s": p,
                    "ratio": round(t / p, 1),
                    "note": "exceeds 5x the committed idle record —"
                    " suspect box contention; re-measure isolated",
                }
        # AUTO-RE-MEASURE (r10 verdict #2): a breached query re-runs
        # ONCE at suite end — by then whatever transient load hit it
        # mid-suite has usually passed, so the record self-corrects
        # (the better of the two measurements is recorded) instead of
        # only self-annotating. The original suite time stays in the
        # watchdog entry as suite_s.
        qs_all = entrymod.queries()
        for name, w in watchdog.items():
            cleanup()
            t0 = time.time()
            try:
                _exec_with_timeout(
                    lambda n=name: qs_all[n](spark, sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save(),
                    spark=spark,
                )
                rm = round(time.time() - t0, 2)
            except Exception:  # noqa: BLE001
                continue
            w["re_measured_s"] = rm
            if rm < timings[name]:
                w["suite_s"] = timings[name]
                timings[name] = rm
    except Exception:  # noqa: BLE001 — the watchdog must never fail the bench
        watchdog = {}
    # summary values are computed AFTER the watchdog auto-re-measure
    # (ADVICE r11: computing them before meant the printed total /
    # headline / movers could disagree with the corrected per-query
    # map and with the record just committed)
    total = round(sum(v for v in timings.values() if v >= 0), 2)
    headline = {n: timings[n] for n in HEADLINE if n in timings}
    cmp_prev = compare_to_prev(timings, fps, sf)
    record_written = False
    if not idle.get("contended"):
        try:
            record = {}
            if PREV_PATH.exists():
                record = json.loads(PREV_PATH.read_text())
                if "queries" in record:  # pre-keyed legacy layout
                    record = {}
            # MERGE into the SF section (not replace): a default run
            # skips DEMOTED queries, and replacing would drop their
            # fingerprints from the last --full pass
            sec = record.get(str(sf), {})
            sec_q = dict(sec.get("queries", {}))
            sec_q.update(timings)
            sec_f = dict(sec.get("fingerprints", {}))
            sec_f.update(fps)
            if full:
                # a --full run covers the whole matrix, so any key not
                # in the current registry is a removed/renamed query —
                # prune it instead of letting stale entries feed
                # compare_to_prev's prev_n and the watchdog baselines
                # forever (ADVICE r11)
                live = set(entrymod.queries())
                sec_q = {k: v for k, v in sec_q.items() if k in live}
                sec_f = {k: v for k, v in sec_f.items() if k in live}
            record[str(sf)] = {
                "queries": sec_q, "fingerprints": sec_f, "reps": reps,
            }
            PREV_PATH.write_text(json.dumps(record, separators=(",", ":")))
            record_written = True
        except Exception:  # noqa: BLE001 — recording must never fail the bench
            pass
    # Two lines, deliberately: the full per-query map first (humans,
    # SURVEY tables), then a SHORT summary line LAST. The driver
    # captures a bounded tail of stdout and parses the last JSON line;
    # the ~190-query map outgrew that capture in rounds 2-5
    # ("parsed": null), so the final line carries only the suite
    # value, sf, and the 8-query headline map — small enough to
    # survive any tail clip.
    full_map = {
        "queries": timings,
        "sf": sf,
        "unit": "sec",
        "value": total,
        "comparison_vs_prev": cmp_prev,
        "watchdog_breaches": watchdog,
        "idle_check": idle,
        "record_written": record_written,
        "demoted_skipped": sorted(DEMOTED) if not full else [],
        "metric": "suite_wall_clock_full",
    }
    print(json.dumps(full_map, separators=(",", ":")))
    summary = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "headline": headline,
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": sum(1 for v in timings.values() if v < 0),
        # idle gate: contended => the committed record was NOT touched
        "idle_check": {
            "median_ratio": idle.get("median_ratio"),
            "contended": idle.get("contended"),
            "record_written": record_written,
        },
        "n_demoted_skipped": 0 if full else len(DEMOTED),
        # latest committed artifacts from the other bench modes
        "artifacts": {
            kind: max(
                (p.name for p in Path(__file__).parent.glob(f"{kind.upper()}_r*.json")),
                default=None,
            )
            for kind in ("latency", "recall")
        },
        # round-over-round: movers >1.5x with UNCHANGED plan = box
        # variance; changed-plan movers are listed by name to inspect
        "watchdog": {
            n: w["note"] for n, w in sorted(watchdog.items())[:5]
        },
        "vs_prev": {
            "median_ratio": cmp_prev.get("median_ratio_vs_prev"),
            "n_movers": len(cmp_prev.get("movers", {}) or {}),
            "plan_change": sorted(
                n
                for n, m in (cmp_prev.get("movers", {}) or {}).items()
                if m["class"] == "PLAN_CHANGE"
            )[:10],
        },
    }
    print(json.dumps(summary, separators=(",", ":")))


def warmup(spark) -> None:
    """Warm the JVM (task scheduling, codegen, shuffle machinery) so
    per-query numbers measure the queries, not session startup;
    touches no benchmark data."""
    from pyspark.sql import functions as F

    (
        spark.range(1_000_000)
        .groupBy((F.col("id") % 100).alias("k"))
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # warm whole-stage-codegen/JIT for the expression shapes the suite
    # leans on (regexp tokenizer, array HOFs, hashes, windows) — the
    # first compile of each shape costs ~1-2 s of janino+JIT that
    # would otherwise land on whichever query uses it first. Tiny
    # synthetic rows; touches no benchmark data.
    from pyspark.sql.window import Window as _W

    warm = spark.range(64).select(
        F.col("id"),
        F.concat(F.lit("alpha beta gamma "), F.col("id").cast("string")).alias("s"),
        F.sequence(F.lit(1), F.lit(8)).alias("arr"),
    )
    toks = F.array_sort(
        F.array_distinct(
            F.regexp_extract_all(F.lower(F.col("s")), F.lit("[a-z0-9]+"), 0)
        )
    )
    (
        warm.select(
            "id",
            toks.alias("toks"),
            F.md5(F.col("s")).alias("h1"),
            F.xxhash64(F.col("s")).alias("h2"),
            F.aggregate(
                F.transform(F.col("arr"), lambda x: x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("fold"),
            F.zip_with(
                F.col("arr"), F.col("arr"), lambda a, b: a * b
            ).alias("zw"),
            F.size(F.array_intersect(F.col("arr"), F.col("arr"))).alias("ai"),
        )
        .select("id", "h1", "h2", "fold", "ai", F.explode("toks").alias("t"))
        .withColumn(
            "rn", F.row_number().over(_W.partitionBy("t").orderBy("id"))
        )
        .groupBy("t")
        .agg(F.countDistinct("h1").alias("c"), F.max("rn").alias("m"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # warm the STREAMING machinery too (micro-batch engine, state
    # store provider, the compiled rate limiter) with a one-batch run
    # over 200 synthetic rows — again touching no benchmark data
    try:
        import tempfile

        from pyspark.sql import functions as SF

        from eventstream_notify_spark.streaming.pipeline import run_bounded
        from eventstream_notify_spark.streaming.state import (
            rate_limit_stream,
        )

        tmp = tempfile.mkdtemp(prefix="bench_stream_warmup_")
        (
            spark.range(200)
            .select(
                SF.col("id").alias("event_id"),
                SF.timestamp_micros(
                    SF.lit(1_704_067_200_000_000) + SF.col("id") * 50_000
                ).alias("ts"),
                (SF.col("id") % 5).alias("user_id"),
                SF.lit("warmup").alias("event_type"),
                SF.col("id").cast("double").alias("value"),
                SF.lit('{"k": 1}').alias("props"),
            )
            .write.mode("overwrite")
            .parquet(tmp)
        )
        warm_src = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            ).parquet(tmp)
        ).withWatermark("ts", "60 seconds")
        run_bounded(
            rate_limit_stream(warm_src, limit=5, watermark=None)
        ).count()
    except Exception:  # noqa: BLE001 — warmup must never fail the bench
        pass


def make_cleanup(spark):
    def cleanup() -> None:
        """Drop the previous query's session residue so query N+1 is
        measured on a clean session, not on N predecessors' garbage:
        localCheckpoint blocks pin executor memory until the context
        cleaner catches up, and every bounded streaming run leaves a
        memory-sink temp view holding its rows. Measured: without
        this, the heavies run 30-60% slower at the END of a
        120-query session than in a short one."""
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for jrdd in jmap.values():
                jrdd.unpersist(False)
            spark.catalog.clearCache()
            for t in spark.catalog.listTables():
                if t.name.startswith("q_") and t.isTemporary:
                    spark.catalog.dropTempView(t.name)
        except Exception:  # noqa: BLE001 — hygiene must never fail the bench
            pass

    return cleanup


# Per-query hang guard: >30x any query's normal time. Root cause it
# defends against (observed once in ~10 full idle runs): an eager
# localCheckpoint's AdaptiveSparkPlanExec parks FOREVER in
# withFinalPlanUpdate -> LinkedBlockingQueue.take when a stage-
# materialization event is lost (a rare Spark driver-side race; zero
# CPU, no running job, jstack-verified 2026-08-16). Without a guard
# the whole suite — including the round driver's — stalls behind one
# wedged query. The wedged py4j thread can't be cancelled (there is
# no job to cancel), so the guard abandons it (daemon thread) and the
# suite continues on fresh py4j connections; the query records as
# failed with a HANG note.
#
# Shared by every sequential harness that runs the full registry —
# bench.py here, plus tools/check_oracle.py (the local replica of the
# driver's correctness gate: a wedge mid-sweep would turn every
# remaining query's CORRECTNESS row into `err`), tools/scale_decade.py
# and tools/tpch_scale_check.py (VERDICT r11 #1).
QUERY_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "180"))


def exec_with_timeout(fn_call, timeout_s: float = QUERY_TIMEOUT_S, spark=None):
    """Run fn_call() in a daemon thread; raise TimeoutError if it
    doesn't finish in time (the thread is abandoned, not killed).

    ``spark``: when given, the guarded call runs under its OWN Spark
    job group (set from the daemon thread — PySpark's pinned-thread
    mode maps it to a dedicated JVM thread, so the group scopes to
    exactly this call's jobs) and a timeout cancels ONLY that group
    (VERDICT r12 #6: the previous cancelAllJobs() was correct for the
    sequential harnesses this serves, but would kill innocent
    concurrent jobs if the guard were ever reused from a session with
    parallel work). The AQE wedge itself has NO running job (nothing
    to cancel, harmless), but a genuinely slow query that overruns
    the guard would otherwise keep its Spark jobs running and contend
    with the retry and every subsequent measurement."""
    import threading
    import uuid

    out: dict = {}
    group = f"swg-guard-{uuid.uuid4().hex[:12]}"

    def body() -> None:
        try:
            if spark is not None:
                try:
                    # interruptOnCancel=True so cancellation actually
                    # interrupts running task threads, not just queued
                    spark.sparkContext.setJobGroup(
                        group, "exec_with_timeout guarded call", True
                    )
                except Exception:  # noqa: BLE001 — guard must still run
                    pass
            out["v"] = fn_call()
        except Exception as e:  # noqa: BLE001 — re-raised on the caller side
            out["e"] = e
        finally:
            if spark is not None:
                try:
                    spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None
                    )
                except Exception:  # noqa: BLE001 — thread is abandoned anyway
                    pass

    t = threading.Thread(target=body, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        if spark is not None:
            try:
                spark.sparkContext.cancelJobGroup(group)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
        raise TimeoutError(
            f"query exceeded {timeout_s:.0f}s — suspected AQE "
            "final-plan-update hang; thread abandoned"
        )
    if "e" in out:
        raise out["e"]
    return out.get("v")


# Backwards-compatible alias (pre-r12 internal name).
_exec_with_timeout = exec_with_timeout


def run_suite(
    spark, sf_dir: str, reps: int, cleanup, full: bool = False
) -> tuple[dict[str, float], dict[str, str]]:
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]
    if not full:
        names = [n for n in names if n not in DEMOTED]
    timings: dict[str, float] = {}
    fps: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = qs[name]
        # warm the plan (analysis) outside the timer? No — cold, honest.
        # Headline queries are the round-over-round trend markers, so
        # they always get median-of-3 (±60% single-shot jitter would
        # otherwise read as regressions); the long extras tail stays
        # at the budgeted rep count.
        q_reps = max(reps, 3) if name in HEADLINE else reps
        runs: list[float] = []
        df = None
        def one_run():
            d = fn(spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()
            return d

        for _ in range(q_reps):
            cleanup()
            t0 = time.time()
            try:
                df = _exec_with_timeout(one_run, spark=spark)
                runs.append(time.time() - t0)
            except Exception as e:  # noqa: BLE001
                # a -1 without its exception is undiagnosable (r7:
                # one mid-suite failure left no trace) — record it,
                # then retry ONCE: a 243-query session hits transient
                # infra hiccups (the r7 failure passed standalone in
                # 17 s), and a flake recorded as "failed" pollutes the
                # round record worse than a marked retry does
                errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                cleanup()
                t0 = time.time()
                try:
                    df = _exec_with_timeout(one_run, spark=spark)
                    runs.append(time.time() - t0)
                    errors[name] = "RETRY_OK: " + errors[name]
                except Exception:  # noqa: BLE001 — genuine failure
                    runs.append(-1.0)
                    break
        good = sorted(r for r in runs if r >= 0)
        timings[name] = (
            round(good[len(good) // 2], 2) if good else -1.0
        )
        if df is not None and good:
            # post-timing: analysis is already cached, costs ~nothing
            fps[name] = plan_fingerprint(df)
    if errors:
        print(json.dumps({"metric": "query_errors", "errors": errors}))
    return timings, fps


if __name__ == "__main__":
    main()
