"""What every workload shares: the run context, the serving side the
dashboard reads, the load-generator process, and the metrics every
workload reports."""

from __future__ import annotations

import multiprocessing
import os
import time
from dataclasses import dataclass, field

import numpy as np

import inputs
import loadgen
from tracing import PeakMem, Tracer, median, pct

# /stats parses the whole hub in the engine's driver process: over 10k
# events a refresh costs ~0.06 s of one core, enough that reads take CPU
# from the stream, not so much that they swamp it (over 50k, ~0.3 s a
# refresh, refresh times spread ~0.2 of their median from run to run,
# against ~0.12 over 10k)
HUB_PRELOAD = 10_000
PRELOAD_FIRST_ID = 5_000_000_000
# 2 refreshes/s in every workload: a faster schedule queues refreshes
# behind each other and amplifies host noise
REFRESH_S = 0.5
# a traced run's extra measurements (the registry queries, the one-core
# replay) take ~40 s on an unloaded 4-core host; they start only this
# early in the run, so that a host slowed by its neighbours cannot push
# the run past its 180 s limit
EXTRAS_BY_S = 75.0


@dataclass
class Ctx:
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    rng: np.random.Generator = field(init=False)
    started: float = field(init=False, default_factory=time.perf_counter)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def extras_fit(self) -> bool:
        """Whether a traced run's extra measurements may still start."""
        return time.perf_counter() - self.started < EXTRAS_BY_S

    def path(self, name: str) -> str:
        """A fresh path under the run's work directory."""
        return os.path.join(self.work, name)

    def dir(self, name: str) -> str:
        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        return p


class LoadGen:
    """The generator process (spawned, so it shares no state with the
    engine) and the pipe that drives it."""

    def __init__(self) -> None:
        mp = multiprocessing.get_context("spawn")
        self.conn, child = mp.Pipe()
        self.proc = mp.Process(target=loadgen.main, args=(child,), daemon=True)
        self.proc.start()
        child.close()

    def begin(self, cfg: dict, t0: float | None = None) -> float:
        """Send the config with a start time (default: 1 s ahead);
        returns that start time once the generator is connected.  The
        dashboard refreshes every ``cfg["refresh_s"]`` seconds."""
        if t0 is None:
            t0 = round(time.time() + 1.0, 3)
        self.conn.send({**cfg, "t0": t0})
        if not self.conn.poll(60) or self.conn.recv() != "started":
            raise RuntimeError("load generator did not start")
        if time.time() > t0:
            raise RuntimeError("load generator connected after the start time")
        return t0

    def wait_written(self, timeout: float) -> None:
        if not self.conn.poll(timeout) or self.conn.recv() != "written":
            raise RuntimeError("load generator did not finish its schedule")

    def finish(self) -> dict:
        self.conn.send("stop")
        out = None
        while not isinstance(out, dict):  # skips an unread "written"
            if not self.conn.poll(60):
                raise RuntimeError("load generator did not report")
            out = self.conn.recv()
        self.close()
        return out

    def close(self) -> None:
        self.conn.close()  # a generator still waiting on the pipe exits
        self.proc.join(timeout=10)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join()


class Serving:
    """ServingHub pre-loaded with seeded events, behind EventsHttpServer."""

    def __init__(self, ctx: Ctx) -> None:
        from eventstream_notify_spark.serving import EventsHttpServer, ServingHub

        self.preload = inputs.hub_preload(
            ctx.rng, HUB_PRELOAD, PRELOAD_FIRST_ID, 1_700_000_000_000
        )
        self.hub = ServingHub()
        self.server = EventsHttpServer(self.hub)

    def start(self) -> int:
        self.hub.publish(self.preload)
        return self.server.start()

    def stop(self) -> None:
        self.server.stop()


def read_metrics(refreshes: list) -> dict:
    """Dashboard refresh latency, from each refresh's due time."""
    lat = [done - due for due, _, _, done, _ in refreshes]
    return {
        "dashboard_refresh_p50_s": median(lat),
        "dashboard_refresh_p90_s": pct(lat, 90),
        "reads": len(lat),
        "reads_failed": sum(1 for *_, ok in refreshes if not ok),
        "stats_s": median(r[1] for r in refreshes),
        "replay_s": median(r[2] for r in refreshes),
    }


def notify_metrics(lat, n_input: int, busy_s: float) -> dict:
    """Delivery latencies and input events per second of ``busy_s``."""
    return {
        "notify_latency_p50_s": median(lat),
        "notify_latency_p99_s": pct(lat, 99),
        "ops": len(lat),
        "events_per_s": n_input / busy_s if busy_s > 0 else 0.0,
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def with_loadgen(ctx: Ctx, body, *args) -> dict:
    """Run ``body(ctx, *args, gen)`` with the load generator up and, in
    a traced run, the engine's peak memory sampled throughout."""
    gen = LoadGen()
    mem = PeakMem(exclude={gen.proc.pid}).start() if ctx.tracer.enabled else None
    try:
        res = body(ctx, *args, gen)
    finally:
        gen.close()
        peak = mem.stop() if mem is not None else None
    if peak is not None:
        res["peak_pss_mb"] = peak
    return res
