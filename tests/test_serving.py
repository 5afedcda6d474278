"""Serving-shell parity tests: the REST snapshot and the SSE
replay-then-tail endpoint against the in-process hub, end to end
through the REAL streaming pipeline (reference: app.py /events;
websocket_server.py /ws replay+subscribe)."""

from __future__ import annotations

import io
import json
import socket
import struct
import urllib.request

import pytest

from eventstream_notify_spark.serving import (
    EventsHttpServer,
    ServingHub,
    ws_read_frame,
)


def _get_json(port: int, path: str):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}{path}", timeout=10
    ) as resp:
        return json.loads(resp.read())


def _read_sse_events(port: int, path: str, n: int) -> list[dict]:
    """Read n SSE data frames with a raw socket (urllib buffers)."""
    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    s.sendall(
        f"GET {path} HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n".encode()
    )
    buf = b""
    out = []
    s.settimeout(10)
    while len(out) < n:
        chunk = s.recv(4096)
        if not chunk:
            break
        buf += chunk
        while b"\n\n" in buf:
            frame, buf = buf.split(b"\n\n", 1)
            for line in frame.split(b"\n"):
                if line.startswith(b"data: "):
                    out.append(json.loads(line[6:]))
    s.close()
    return out[:n]


def test_rest_snapshot_and_sse_replay_then_tail():
    """Hub-level: publish 60 events, snapshot returns all; /stream
    replays the LEXICOGRAPHIC last 50 (the reference quirk: 'event:99'
    > 'event:100') then tails a live publish."""
    hub = ServingHub()
    hub.publish(
        [(str(i), json.dumps({"id": i, "value": f"event-{i}"})) for i in range(60)]
    )
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        snap = _get_json(port, "/events")
        assert {e["id"] for e in snap} == set(range(60))

        # lexicographic replay: sorted("event:0".."event:59") last 5
        want_keys = sorted(f"event:{i}" for i in range(60))[-5:]
        want_ids = [int(k.split(":")[1]) for k in want_keys]
        got = _read_sse_events(port, "/stream?last_n=5", 5)
        assert [e["id"] for e in got] == want_ids

        # replay then TAIL: publish after the stream is open
        import threading
        import time

        def late_publish():
            time.sleep(0.5)
            hub.publish([("999", json.dumps({"id": 999, "value": "event-999"}))])

        t = threading.Thread(target=late_publish)
        t.start()
        got6 = _read_sse_events(port, "/stream?last_n=5", 6)
        t.join()
        assert got6[-1]["id"] == 999
        assert [e["id"] for e in got6[:5]] == want_ids
    finally:
        srv.stop()


def test_pipeline_to_serving_end_to_end(spark, sf_dir, tmp_path):
    """The full reference shape: replayed stream → dedup → rate limit
    → hub sink (SET + PUBLISH per micro-batch) → REST snapshot shows
    the accepted events in wire format."""
    from eventstream_notify_spark.streaming.pipeline import start_pipeline
    from eventstream_notify_spark.sources.events import file_events_stream

    hub = ServingHub()
    q = start_pipeline(
        file_events_stream(spark, sf_dir),
        str(tmp_path / "ckpt"),
        hub.sink,
        rate_window_s=86400,
        rate_limit=10**9,  # parity run: admit everything deduped
        available_now=True,
    )
    q.awaitTermination()
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        snap = _get_json(port, "/events")
        assert len(snap) > 0
        # wire-format payloads: reference shape {id, value, user_id, timestamp}
        sample = snap[0]
        assert set(sample) == {"id", "value", "user_id", "timestamp"}
        assert sample["user_id"].startswith("user")
    finally:
        srv.stop()


def test_stats_endpoint_matches_payloads():
    """/stats = the dashboard aggregates (C1-C4 shapes) over the hub."""
    hub = ServingHub()
    hub.publish(
        [
            (
                str(i),
                json.dumps(
                    {
                        "id": i,
                        "value": f"event-{i}",
                        "user_id": f"user{i % 3}",
                        "timestamp": 1_704_067_200.0 + i * 30,
                    }
                ),
            )
            for i in range(12)
        ]
    )
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        stats = _get_json(port, "/stats")
        assert stats["total_events"] == 12
        assert stats["distinct_users"] == 3
        assert stats["events_per_user"] == {"user0": 4, "user1": 4, "user2": 4}
        # 12 events at 30 s spacing = 2 per minute over 6 minutes
        assert list(stats["events_per_minute"].values()) == [2] * 6
    finally:
        srv.stop()


class _BufSock:
    """Socket shim that replays bytes read past the handshake first.

    Under suite load the server's first WS frames can land in the
    same recv() as the 101 response; asserting the buffer ENDS at the
    handshake boundary made the e2e test flaky (seen once per full
    suite). Frame bytes pre-read during the handshake are buffered
    and consumed by _ws_recv_frame before touching the socket."""

    def __init__(self, s: socket.socket, rest: bytes) -> None:
        self.s, self.buf = s, rest

    def recv(self, n: int) -> bytes:
        if self.buf:
            out, self.buf = self.buf[:n], self.buf[n:]
            return out
        return self.s.recv(n)

    def sendall(self, data: bytes) -> None:
        self.s.sendall(data)

    def close(self) -> None:
        self.s.close()


def _ws_connect(port: int, path: str) -> "_BufSock":
    """Minimal stdlib RFC 6455 client: handshake + accept check."""
    import base64
    import hashlib

    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    key = base64.b64encode(b"0123456789abcdef").decode()
    s.sendall(
        (
            f"GET {path} HTTP/1.1\r\nHost: x\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += s.recv(4096)
    head, rest = buf.split(b"\r\n\r\n", 1)
    head = head.decode()
    assert "101" in head.split("\r\n")[0]
    want = base64.b64encode(
        hashlib.sha1(
            (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
        ).digest()
    ).decode()
    assert f"Sec-WebSocket-Accept: {want}" in head
    return _BufSock(s, rest)


def _ws_recv_frame(s: socket.socket) -> tuple[int, bytes]:
    """Read one unmasked server frame (lengths <= 64 KiB)."""
    import struct

    def rd(n: int) -> bytes:
        out = b""
        while len(out) < n:
            c = s.recv(n - len(out))
            if not c:
                raise ConnectionError("EOF")
            out += c
        return out

    b0, b1 = rd(2)
    ln = b1 & 0x7F
    if ln == 126:
        ln = struct.unpack("!H", rd(2))[0]
    elif ln == 127:
        ln = struct.unpack("!Q", rd(8))[0]
    return b0 & 0x0F, rd(ln)


def _ws_send(s: socket.socket, payload: bytes, opcode: int) -> None:
    """Send one MASKED client frame (RFC 6455 requires client masking)."""
    import struct

    mask = b"\x37\xfa\x21\x3d"
    assert len(payload) < 126
    s.sendall(
        struct.pack("!BB", 0x80 | opcode, 0x80 | len(payload))
        + mask
        + bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
    )


def test_websocket_replay_then_tail_and_control_frames():
    """Real RFC 6455 round trip against /ws: handshake accept key,
    lexicographic last-n replay as text frames, live tail of a
    publish, ping->pong, and close-frame echo — the reference's
    actual client protocol (websocket_server.py:48-77), no SSE."""
    hub = ServingHub()
    hub.publish(
        [(str(i), json.dumps({"id": i})) for i in range(60)]
    )
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        s = _ws_connect(port, "/ws?last_n=5")
        want_ids = [
            int(k.split(":")[1])
            for k in sorted(f"event:{i}" for i in range(60))[-5:]
        ]
        got = []
        while len(got) < 5:
            op, data = _ws_recv_frame(s)
            if op == 0x9:  # server keep-alive ping — ignore
                continue
            assert op == 0x1
            got.append(json.loads(data)["id"])
        assert got == want_ids

        # live tail: publish after replay must arrive as a text frame
        hub.publish([("live", json.dumps({"id": "live"}))])
        while True:
            op, data = _ws_recv_frame(s)
            if op == 0x1:
                break
        assert json.loads(data)["id"] == "live"

        # ping -> pong with payload echo
        _ws_send(s, b"hi", 0x9)
        while True:
            op, data = _ws_recv_frame(s)
            if op == 0xA:
                break
        assert data == b"hi"

        # close -> echoed close
        _ws_send(s, b"", 0x8)
        while True:
            op, data = _ws_recv_frame(s)
            if op == 0x8:
                break
        s.close()
    finally:
        srv.stop()


def test_pipeline_to_websocket_end_to_end(spark, sf_dir, tmp_path):
    """The reference's FULL client path over its real protocol:
    replayed stream → dedup → rate limit → hub sink → a WebSocket
    client receives the replay buffer as RFC 6455 text frames in
    wire format, then a live publish arrives as a tailed frame."""
    from eventstream_notify_spark.sources.events import file_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline

    hub = ServingHub()
    q = start_pipeline(
        file_events_stream(spark, sf_dir),
        str(tmp_path / "ckpt_ws"),
        hub.sink,
        rate_window_s=86400,
        rate_limit=10**9,
        available_now=True,
    )
    q.awaitTermination()
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        s = _ws_connect(port, "/ws?last_n=10")
        frames = []
        while len(frames) < 10:
            op, data = _ws_recv_frame(s)
            if op == 0x1:
                frames.append(json.loads(data))
        # wire-format payloads straight from the pipeline sink
        assert all(
            set(f) == {"id", "value", "user_id", "timestamp"}
            for f in frames
        )
        # live tail after replay
        hub.publish([("tail", json.dumps({"id": "tail"}))])
        while True:
            op, data = _ws_recv_frame(s)
            if op == 0x1 and json.loads(data).get("id") == "tail":
                break
        _ws_send(s, b"", 0x8)
        s.close()
    finally:
        srv.stop()


def test_dashboard_page_served():
    """GET / serves the static dashboard (the reference React UI's
    counterpart, WebUI.jpg): HTML that wires itself to /ws with an
    SSE /stream fallback and renders the C1-C4 stat panels."""
    hub = ServingHub()
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        for path in ("/", "/dashboard"):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=10
            ) as resp:
                assert resp.status == 200
                assert resp.headers["Content-Type"].startswith("text/html")
                page = resp.read().decode()
            assert "event-stream" in page
            assert "/ws?last_n=" in page  # live protocol
            assert "/stream?last_n=" in page  # SSE fallback
            for panel in ("USER STATS", "RATE", "events/min"):
                assert panel in page
    finally:
        srv.stop()


def _client_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """A masked client frame, with the extended length a size needs."""
    n = len(payload)
    if n < 126:
        hdr = struct.pack("!BB", 0x80 | opcode, 0x80 | n)
    elif n < 1 << 16:
        hdr = struct.pack("!BBH", 0x80 | opcode, 0x80 | 126, n)
    else:
        hdr = struct.pack("!BBQ", 0x80 | opcode, 0x80 | 127, n)
    mask = b"\x11\x22\x33\x44"
    return hdr + mask + bytes(c ^ mask[i % 4] for i, c in enumerate(payload))


@pytest.mark.parametrize("size", [5, 300, 70_000])
def test_ws_read_frame_round_trip_and_every_truncation(size):
    """A whole masked frame decodes; the same frame cut at any byte --
    inside the 2- or 8-byte extended length, the mask or the payload --
    reads as EOF, (None, b''), never an exception."""
    payload = bytes(i % 251 for i in range(size))
    frame = _client_frame(payload)
    assert ws_read_frame(io.BytesIO(frame)) == (0x1, payload)
    header = len(frame) - size
    for cut in [*range(header + 1), len(frame) - 1]:
        assert ws_read_frame(io.BytesIO(frame[:cut])) == (None, b""), cut
    assert ws_read_frame(io.BytesIO(bytes([0x81, 0xFE, 0x01]))) == (None, b"")


def _recount_stats(payloads: list[str]) -> bytes:
    """The /stats body recounted from scratch over every payload: the
    handler's per-request loop before the hub kept the aggregates."""
    events = [json.loads(p) for p in payloads]
    per_user: dict[str, int] = {}
    per_min: dict[int, int] = {}
    for e in events:
        u = str(e.get("user_id"))
        per_user[u] = per_user.get(u, 0) + 1
        m = int(float(e.get("timestamp", 0)) // 60)
        per_min[m] = per_min.get(m, 0) + 1
    return json.dumps(
        {
            "total_events": len(events),
            "distinct_users": len(per_user),
            "events_per_user": dict(sorted(per_user.items())),
            "events_per_minute": {
                str(k * 60): v for k, v in sorted(per_min.items())
            },
        }
    ).encode()


def _random_payload(rng, i: int) -> str:
    """A wire payload; some lack ``user_id``, some carry it as NULL or
    as a number, some lack ``timestamp``."""
    e: dict = {"id": i, "value": f"event-{i}"}
    r = rng.random()
    if r < 0.1:
        pass
    elif r < 0.2:
        e["user_id"] = None
    elif r < 0.3:
        e["user_id"] = rng.randrange(5)
    else:
        e["user_id"] = f"user{rng.randrange(12)}"
    if rng.random() < 0.9:
        e["timestamp"] = 1_704_067_200 + rng.randrange(3600) + rng.random()
    return json.dumps(e)


def _get_bytes(port: int, path: str) -> bytes:
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}{path}", timeout=10
    ) as resp:
        return resp.read()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_incremental_stats_match_recount_after_random_upserts(seed):
    """After every random batch of upserts (key overwrites, missing,
    NULL and numeric users, missing timestamps), /stats is byte for
    byte the from-scratch recount, /events parses to the stored
    payloads, and last_n keeps the lexicographic order."""
    import random

    rng = random.Random(seed)
    hub = ServingHub()
    model: dict[str, str] = {}
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        assert _get_bytes(port, "/stats") == _recount_stats([])
        i = 0
        for _ in range(30):
            batch = []
            for _ in range(rng.randrange(1, 12)):
                key = str(rng.randrange(60))  # ~half the upserts overwrite
                batch.append((key, _random_payload(rng, i)))
                i += 1
            hub.publish(batch)
            for key, payload in batch:
                model[f"event:{key}"] = payload
            assert _get_bytes(port, "/stats") == _recount_stats(list(model.values()))
            events = json.loads(_get_bytes(port, "/events"))
            want = [json.loads(p) for p in model.values()]
            assert sorted(map(json.dumps, events)) == sorted(map(json.dumps, want))
            for n in (1, 7, 50, len(model) + 5):
                assert hub.last_n(n) == [model[k] for k in sorted(model)[-n:]]
    finally:
        srv.stop()


def test_publish_with_a_non_json_payload_raises_and_changes_nothing():
    """The batch is parsed before the hub changes: one bad payload
    fails the whole publish, and /stats, /events, last_n and the
    subscribers see none of it."""
    hub = ServingHub()
    hub.publish(
        [
            (str(i), json.dumps({"id": i, "user_id": f"u{i % 2}", "timestamp": 60.0 * i}))
            for i in range(5)
        ]
    )
    sub = hub.subscribe()
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        before = (
            _get_bytes(port, "/stats"),
            _get_bytes(port, "/events"),
            hub.last_n(50),
        )
        with pytest.raises(ValueError):
            hub.publish(
                [
                    ("1", json.dumps({"id": 1, "user_id": "u9", "timestamp": 1.0})),
                    ("7", json.dumps({"id": 7, "user_id": "u7"})),
                    ("8", "not json"),
                ]
            )
        after = (
            _get_bytes(port, "/stats"),
            _get_bytes(port, "/events"),
            hub.last_n(50),
        )
        assert after == before
        assert sub.empty()
    finally:
        srv.stop()


def _status_line(port: int, path: str, ws: bool) -> str:
    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    upgrade = (
        "Upgrade: websocket\r\nConnection: Upgrade\r\n"
        "Sec-WebSocket-Key: MDEyMzQ1Njc4OWFiY2RlZg==\r\n"
        "Sec-WebSocket-Version: 13\r\n"
        if ws
        else ""
    )
    s.sendall(f"GET {path} HTTP/1.1\r\nHost: x\r\n{upgrade}\r\n".encode())
    buf = b""
    while b"\r\n" not in buf:
        chunk = s.recv(4096)
        if not chunk:
            break
        buf += chunk
    s.close()
    return buf.split(b"\r\n", 1)[0].decode()


def test_last_n_zero_replays_nothing_and_negative_is_400():
    """``last_n=0`` replays nothing and goes straight to the live tail
    (``sorted(keys)[-0:]`` used to replay the whole store); a negative
    value is a 400 on both /ws and /stream (``[-1:]``-style slices
    used to replay all but the first keys)."""
    hub = ServingHub()
    hub.publish([(str(i), json.dumps({"id": i})) for i in range(5)])
    assert hub.last_n(0) == []
    assert hub.last_n(-1) == []
    assert len(hub.last_n(5)) == len(hub.last_n(9)) == 5
    srv = EventsHttpServer(hub)
    port = srv.start()
    try:
        for path in ("/stream?last_n=-1", "/stream?last_n=x"):
            assert " 400 " in _status_line(port, path, ws=False), path
        for path in ("/ws?last_n=-1", "/ws?last_n=x"):
            assert " 400 " in _status_line(port, path, ws=True), path

        import threading
        import time

        def late_publish():
            time.sleep(0.5)
            hub.publish([("live", json.dumps({"id": "live"}))])

        t = threading.Thread(target=late_publish)
        t.start()
        got = _read_sse_events(port, "/stream?last_n=0", 1)
        t.join()
        assert got == [{"id": "live"}]

        # the handler subscribes after the handshake: publish until the
        # first live frame arrives, which must not be a replayed one
        s = _ws_connect(port, "/ws?last_n=0")
        received = threading.Event()

        def publish_until_received():
            while not received.wait(0.2):
                hub.publish([("live2", json.dumps({"id": "live2"}))])

        t = threading.Thread(target=publish_until_received)
        t.start()
        try:
            while True:
                op, data = _ws_recv_frame(s)
                if op == 0x1:
                    break
        finally:
            received.set()
            t.join()
        assert json.loads(data) == {"id": "live2"}
        _ws_send(s, b"", 0x8)
        s.close()
    finally:
        srv.stop()


def test_stalled_subscriber_is_dropped_reader_gets_every_frame(monkeypatch):
    """A subscriber that never reads is dropped once its bounded queue
    is full (publish never blocks on it, the drop is counted and its
    hang-up runs once), while a subscriber that keeps reading gets
    every frame in order."""
    import threading

    from eventstream_notify_spark import serving

    monkeypatch.setattr(serving, "SUB_QUEUE_MAX", 16)
    hub = serving.ServingHub()  # the class that reads the patched bound
    hang_ups = []
    stalled = hub.subscribe(lambda: hang_ups.append(1))
    reader = hub.subscribe()
    got: list[int] = []
    want = 40 * 5

    def read():
        while len(got) < want:
            got.append(json.loads(reader.get(timeout=10))["id"])

    t = threading.Thread(target=read)
    t.start()
    for b in range(40):
        hub.publish([(str(b * 5 + j), json.dumps({"id": b * 5 + j})) for j in range(5)])
        # the reader keeps up: at most one batch in flight
        while len(got) < (b + 1) * 5 and t.is_alive():
            t.join(timeout=0.001)
    t.join(timeout=10)
    assert got == list(range(want))
    assert stalled.dropped and stalled.empty()
    assert not reader.dropped
    assert hub.dropped_subscribers == 1
    assert hang_ups == [1]


def test_stalled_websocket_client_is_dropped_and_closed(monkeypatch):
    """End to end: a /ws client that stops reading fills the socket
    buffers and then its queue; the hub drops it and its handler
    closes the connection, so the client reads to EOF."""
    import time

    from eventstream_notify_spark import serving

    monkeypatch.setattr(serving, "SUB_QUEUE_MAX", 4)
    hub = serving.ServingHub()  # the class that reads the patched bound
    srv = serving.EventsHttpServer(hub)
    port = srv.start()
    try:
        s = _ws_connect(port, "/ws?last_n=0")
        # 64 KiB frames: the socket buffers hold a few MB, so well
        # under 1000 frames fill them and then the 4-frame queue
        deadline = time.time() + 30
        pad = "x" * (1 << 16)
        for i in range(1000):
            if hub.dropped_subscribers or time.time() > deadline:
                break
            hub.publish([(str(i), json.dumps({"id": i, "pad": pad}))])
        assert hub.dropped_subscribers == 1
        s.s.settimeout(10)
        deadline = time.time() + 20  # keep-alive pings never end an open socket
        while s.recv(1 << 16):
            assert time.time() < deadline, "connection not closed"
        s.close()
    finally:
        srv.stop()


def test_retried_epoch_is_not_renotified(spark, sf_dir, tmp_path):
    """The sink fails after the hub published an epoch; the query is
    restarted on the same checkpoint with the same hub and Spark runs
    the epoch again. A subscriber still sees each key exactly once."""
    from pyspark.errors import StreamingQueryException

    from eventstream_notify_spark.sources.events import file_events_stream
    from eventstream_notify_spark.streaming.pipeline import start_pipeline

    hub = ServingHub()
    sub = hub.subscribe()
    calls: list[int] = []

    def failing_once(batch_df, epoch_id):
        hub.sink(batch_df, epoch_id)
        calls.append(epoch_id)
        if len(calls) == 1:
            raise RuntimeError("injected failure after publish")

    ckpt = str(tmp_path / "ckpt_retry")
    for attempt in range(2):
        q = start_pipeline(
            file_events_stream(spark, sf_dir),
            ckpt,
            failing_once,
            rate_window_s=86400,
            rate_limit=10**9,
            available_now=True,
        )
        if attempt == 0:
            with pytest.raises(StreamingQueryException):
                q.awaitTermination()
        else:
            q.awaitTermination()
    assert calls[0] == calls[1], calls  # the failed epoch ran again
    keys = []
    while not sub.empty():
        keys.append(str(json.loads(sub.get_nowait())["id"]))
    assert len(keys) == len(set(keys)) > 0
    assert {f"event:{k}" for k in keys} == {
        f"event:{json.loads(p)['id']}" for p in hub.snapshot()
    }


def test_concurrent_publishers_and_readers_keep_exact_counts():
    """Eight threads upsert overlapping keys while four read /stats and
    last_n, with a tiny switch interval: a lost counter update would
    leave the final body different from the recount."""
    import random
    import sys
    import threading

    hub = ServingHub()
    errors: list[BaseException] = []
    stop = threading.Event()

    def publisher(seed):
        rng = random.Random(seed)
        try:
            for b in range(40):
                hub.publish(
                    [
                        (str(rng.randrange(100)), _random_payload(rng, seed * 1000 + b))
                        for _ in range(5)
                    ]
                )
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    def reader():
        try:
            while not stop.is_set():
                json.loads(hub.stats()[1])
                hub.last_n(10)
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        readers = [threading.Thread(target=reader) for _ in range(4)]
        writers = [threading.Thread(target=publisher, args=(s,)) for s in range(8)]
        for t in readers + writers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        stop.set()
        for t in readers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in readers + writers)
    assert not errors, errors
    assert hub.stats()[1] == _recount_stats(hub.snapshot())
