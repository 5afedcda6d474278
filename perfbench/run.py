"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload live_dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root.  Every input is generated from ``--seed``;
the engine is driven only through its public functions.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it holds the
run's details (output checks, sample counts, generator lateness, self
times).  Spans of a traced run are written to
``.perfbench_run/traces/``.

A traced run also measures what no untraced run does: the registry
query sequence (``analytics.py``) after the live stream stops, and part
of the backlog replayed again on a one-core session (the single-threaded
baseline) — unless the run is already too slow for them to fit its
time limit (``common.EXTRAS_BY_S``), in which case the details say so.
A layer a workload does not reach, or a skipped extra, reports 0.

End-to-end metrics, reported by every workload for its own operation:

- ``setup_s``: ``get_spark`` plus the workload's warm-up, until it can start.
- ``notify_latency_p50_s`` / ``notify_latency_p99_s``: from an event's
  due time until it is delivered — its frame arriving on ``/ws``
  (live_dashboard, 1,000+ per run, so ten or more lie beyond the p99),
  or the ``notify_sink`` call of its micro-batch returning
  (backlog_replay, where every event is due when the replay starts).
- ``events_per_s``: input events per second, from the first due time
  until the last frame arrives (live_dashboard) or the ``available_now``
  query ends (backlog_replay).
- ``dashboard_refresh_p50_s`` / ``dashboard_refresh_p90_s``: one
  dashboard refresh (``/stats`` + ``/ws?last_n=50``) from its due time,
  beside the live writes or the replay.

Failed operations (missing or duplicated deliveries, output-check
mismatches, exceptions, HTTP errors) are the ``failed`` count.

The command runs the benchmark in a child process and stays its
supervisor: a subreaper, so that every process the run starts — the
JVM, PySpark's worker daemon (its own process group), multiprocessing's
resource tracker — stays its descendant even once orphaned.  When the
child ends, or overruns ``TIME_LIMIT_S``, whatever is left is killed and
reaped before the command exits.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from analytics import SEQUENCE

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("live_dashboard", "backlog_replay")
END_TO_END = {
    "setup_s": "s",
    "notify_latency_p50_s": "s",
    "notify_latency_p99_s": "s",
    "events_per_s": "1/s",
    "dashboard_refresh_p50_s": "s",
    "dashboard_refresh_p90_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.offset_ms": "ms",
    "sources.lag_events": "count",
    "pipeline.trigger_ms": "ms",
    "pipeline.plan_ms": "ms",
    "pipeline.wal_ms": "ms",
    "pipeline.batches": "count",
    "pipeline.rows_per_batch": "count",
    "dedup.state_rows": "count",
    "dedup.state_bytes": "bytes",
    "dedup.commit_ms": "ms",
    "dedup.removal_ms": "ms",
    "dedup.dropped_dup_rows": "count",
    "dedup.pass_ratio": "ratio",
    "ratelimit.update_ms": "ms",
    "ratelimit.removal_ms": "ms",
    "ratelimit.commit_ms": "ms",
    "ratelimit.state_rows": "count",
    "ratelimit.admit_ratio": "ratio",
    "sink.batch_compute_ms": "ms",
    "sink.upsert_ms": "ms",
    "sink.alert_ms": "ms",
    "sink.store_bytes": "bytes",
    "sink.bytes_per_event": "bytes",
    "serving.publish_ms": "ms",
    "serving.fanout_ms": "ms",
    "serving.stats_ms": "ms",
    "serving.replay_ms": "ms",
    **{
        f"query.{q}.{m}": u
        for q in SEQUENCE
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("exchanges", "count"))
    },
    "analytics.events_query_s": "s",
    "analytics.curation_query_s": "s",
    "baseline.local1_events_per_s": "1/s",
    "mem.peak_pss_mb": "MB",
    "trace.events_per_s": "1/s",
    "trace.notify_latency_p50_s": "s",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}
# a generator that wrote this late makes the run invalid
MAX_GENERATOR_LATE_S = 1.0
# the whole run, teardown included, must end within 180 s
TIME_LIMIT_S = 170
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """The engine's environment contract, with every scratch path inside
    the checkout.  Must run before pyspark is imported."""
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"


def _stop_engine() -> None:
    """Stop the SparkSession and wait for the JVM (and the Python
    workers it started) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gw = SparkContext._gateway
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = str(os.getpid()), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the parent pid is the second field after the parenthesised name
        if stat.rsplit(")", 1)[1].split()[1] == me:
            out.append(int(d))
    return out


def _reap_all() -> None:
    """Kill every remaining child (orphaned descendants are children of
    a subreaper) and reap it, until no child is left."""
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        for pid in _children():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def supervise(argv) -> int:
    """Run ``main`` in a child process; stop and reap everything it
    started, on every path out."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    # a terminated supervisor still reaps: SystemExit runs the finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    rc = 1
    try:
        child = subprocess.Popen(
            [sys.executable, str(Path(__file__).resolve()), *argv],
            env={**os.environ, WORKER_ENV: "1"},
        )
        try:
            rc = child.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        _reap_all()
    return rc


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    spec = importlib.util.find_spec("eventstream_notify_spark")
    if spec is None or not Path(spec.origin).resolve().is_relative_to(ROOT):
        print("perfbench: eventstream_notify_spark is not importable from "
              f"{ROOT}; run from the repository root", file=sys.stderr)
        return 2
    import live
    import replay
    from common import Ctx, read_metrics
    from tracing import Tracer, median

    run_dir = ROOT / ".perfbench_run"
    work = run_dir / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    tempfile.tempdir = str(work / "tmp")
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(seed=args.seed, seconds=args.seconds, work=str(work), tracer=tracer)
    body = {
        "live_dashboard": live.run,
        "backlog_replay": replay.run,
    }[args.workload]
    t_run = time.perf_counter()
    try:
        res = body(ctx)
    finally:
        _stop_engine()
        shutil.rmtree(work, ignore_errors=True)

    reads = read_metrics(res["refreshes"])
    late = res.get("generator", {}).get("late_max_s", 0.0)
    valid = late <= MAX_GENERATOR_LATE_S
    attempted = res["attempted"] + reads["reads"]
    failed = res["failed"] + reads["reads_failed"]
    measured = {**res, **reads}
    e2e = {k: measured[k] for k in END_TO_END}
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "valid": valid,
        "wall_s": time.perf_counter() - t_run,
        "ops": res["ops"],
        "reads": reads["reads"],
        "checks": res["checks"],
        "generator": res.get("generator"),
    }
    if args.trace:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(res.get("layers", {}))
        layers.update(
            {
                "session.start_s": median(tracer.durations("session.start")),
                "session.warm_s": median(tracer.durations("session.warm")),
                "serving.stats_ms": 1000 * reads["stats_s"],
                "serving.replay_ms": 1000 * reads["replay_s"],
                "mem.peak_pss_mb": res["peak_pss_mb"],
                "trace.events_per_s": res["events_per_s"],
                "trace.notify_latency_p50_s": res["notify_latency_p50_s"],
                "trace.overhead_ms": 1000 * tracer.overhead_s,
                "trace.spans": float(len(tracer.spans)),
            }
        )
        (run_dir / "traces").mkdir(parents=True, exist_ok=True)
        tracer.write(str(run_dir / "traces" / f"{args.workload}-{args.seed}.json"))
        details["self_s"] = tracer.self_times()
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        details["end_to_end"] = e2e
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(details, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and valid,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    if os.environ.get(WORKER_ENV) == "1":
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
