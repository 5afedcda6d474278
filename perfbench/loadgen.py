"""The load generator: one process apart from the engine, driving it on a
fixed schedule that does not slow down when the engine does (an open
loop).  Its threads:

- writer (live_dashboard only): at every 50 ms tick, writes the wire
  events due by then as one parquet file into the stream's directory;
- subscriber (live_dashboard only): one ``/ws`` client recording when
  each notification arrives;
- dashboard (every workload): a refresh every ``refresh_s`` seconds,
  each ``GET /stats`` then ``/ws?last_n=50`` reading all 50 replay
  frames; each refresh is timed
  from its due time, so a stall also delays the refreshes behind it.

All times are ``time.time()`` in this process, so due and arrival times
share one clock.
"""

from __future__ import annotations

import base64
import http.client
import json
import os
import socket
import struct
import threading
import time

TICK_S = 0.05


class WsClient:
    """Minimal RFC 6455 client: text frames in, close frame out."""

    def __init__(self, port: int, last_n: int, timeout: float = 30.0) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET /ws?last_n={last_n} HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.rfile = self.sock.makefile("rb")
        status = self.rfile.readline()
        if b" 101 " not in status:
            raise OSError(f"websocket upgrade refused: {status!r}")
        while self.rfile.readline() not in (b"\r\n", b""):
            pass

    def _read(self, n: int) -> bytes:
        data = self.rfile.read(n)
        if len(data) < n:
            raise EOFError("websocket closed")
        return data

    def text(self) -> bytes:
        """The next text frame's payload (server pings are skipped)."""
        while True:
            b0, b1 = self._read(2)
            n = b1 & 0x7F
            if n == 126:
                n = struct.unpack("!H", self._read(2))[0]
            elif n == 127:
                n = struct.unpack("!Q", self._read(8))[0]
            payload = self._read(n)
            op = b0 & 0x0F
            if op == 0x1:
                return payload
            if op == 0x8:
                raise EOFError("websocket closed by server")

    def close(self) -> None:
        try:
            # masked close frame with an empty payload
            self.sock.sendall(b"\x88\x80" + os.urandom(4))
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.rfile.close()
        self.sock.close()


def _dashboard(port, t0, every, stop, out, preload) -> None:
    """Refresh j is due at t0 + j * every s; records (due, stats_s,
    replay_s, done, ok)."""
    j = 0
    while not stop.is_set():
        due = t0 + j * every
        wait = due - time.time()
        if wait > 0 and stop.wait(wait):
            break
        ok = True
        t_a = time.time()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
            conn.request("GET", "/stats")
            resp = conn.getresponse()
            body = resp.read()
            conn.close()
            ok = resp.status == 200 and json.loads(body)["total_events"] >= preload
        except (OSError, ValueError, KeyError):
            ok = False
        t_b = time.time()
        try:
            ws = WsClient(port, 50)
            try:
                for _ in range(50):
                    json.loads(ws.text())
            finally:
                ws.close()
        except (OSError, EOFError, ValueError):
            ok = False
        t_c = time.time()
        out.append((due, t_b - t_a, t_c - t_b, t_c, ok))
        j += 1


def _subscriber(ws, arrivals, errors) -> None:
    try:
        while True:
            eid = json.loads(ws.text())["id"]
            arrivals.append((eid, time.time()))
    except (OSError, EOFError, ValueError, KeyError) as e:
        errors.append(repr(e))


def _writer(cfg, t0, lateness) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys, vals, send = cfg["keys"], cfg["values"], cfg["send_s"]
    i, k, n = 0, 0, len(keys)
    while i < n:
        tick = t0 + (k + 1) * TICK_S
        wait = tick - time.time()
        if wait > 0:
            time.sleep(wait)
        j = i
        while j < n and t0 + send[j] <= tick:
            j += 1
        if j > i:
            tmp = os.path.join(cfg["staging_dir"], f"w{k:06d}.parquet")
            pq.write_table(pa.table({"key": keys[i:j], "value": vals[i:j]}), tmp)
            os.rename(tmp, os.path.join(cfg["wire_dir"], f"w{k:06d}.parquet"))
            lateness.append(time.time() - tick)
        i = j
        k += 1


def main(conn) -> None:
    """Child entry point.  Protocol over ``conn``: receive the config
    (with the start time), reply "started" once the subscriber is
    connected, send "written" when the schedule is exhausted, receive
    "stop", reply with the recorded results."""
    cfg = conn.recv()
    port, t0 = cfg["port"], cfg["t0"]
    stop = threading.Event()
    refreshes, arrivals, errors, lateness = [], [], [], []
    threads = []
    ws = None
    if cfg.get("keys") is not None:
        ws = WsClient(port, 1)
        ws.text()  # the one replayed frame, sent before any live event
        threads.append(
            threading.Thread(target=_subscriber, args=(ws, arrivals, errors))
        )
    dash = threading.Thread(
        target=_dashboard,
        args=(port, t0, cfg["refresh_s"], stop, refreshes, cfg["preload"]),
    )
    for t in [*threads, dash]:
        t.start()
    conn.send("started")
    if cfg.get("keys") is not None:
        writer = threading.Thread(target=_writer, args=(cfg, t0, lateness))
        writer.start()
        writer.join()
    conn.send("written")
    conn.recv()  # "stop"
    stop.set()
    dash.join()
    if ws is not None:
        # let frames still in flight arrive: stop after 0.5 s of quiet
        last = -1
        deadline = time.time() + 10
        while time.time() < deadline:
            time.sleep(0.5)
            if len(arrivals) == last:
                break
            last = len(arrivals)
        ws.close()
        for t in threads:
            t.join(timeout=10)
    conn.send(
        {
            "refreshes": refreshes,
            "arrivals": arrivals,
            "errors": errors,
            "lateness": lateness,
        }
    )
