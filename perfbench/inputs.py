"""Seeded inputs for every workload.

Everything the engine receives is made here from the run's ``--seed``:
the same seed gives byte-identical inputs.  Why each workload has its
shape:

- live_dashboard: a paced wire-event stream from 10k Zipf-skewed users
  with ~3% exact re-sends.  Per-row work is tiny, so notification
  latency is the per-trigger fixed cost of the micro-batch engine plus
  the serving-side Python; the hot users make the rate limiter drop
  events, so the limiter's state is exercised too.
- backlog_replay: a large backlog (20k Zipf users, 5% re-sends) that is
  already on disk when the stream starts, so it runs in about two
  triggers and the per-row/per-byte cost of the write path dominates.
- the registry query sequence (run inside a traced live_dashboard run):
  tables shaped like the sf0.1 testdata (events, documents,
  embeddings), read by the registry's batch queries, which neither
  streaming workload touches.  The documents and embeddings have the
  shape ``tools/gen_scale_data.py`` generates (vocabulary, language
  mix, near-duplicate tail, clustered unit vectors); that script fits
  its parameters from the testdata, which a benchmark run cannot read,
  so fixed stand-ins are used here.

Event creation stamps are strictly increasing, so the rate limiter's
admitted set does not depend on where micro-batches split; re-sends are
exact copies (same id, same stamp) sent within the 60 s dedup TTL.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

# documents: the sf0.1 corpus's 31-word vocabulary and language mix
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


@dataclass(frozen=True)
class WireRows:
    """Rows in the order they are sent.  A re-send repeats the id,
    user, type, number and stamp of its original."""

    event_id: np.ndarray  # int64
    stamp_ms: np.ndarray  # int64, event creation stamp (epoch ms)
    user_id: np.ndarray  # int64
    etype: np.ndarray  # int index into EVENT_TYPES
    num: np.ndarray  # int64, the payload number ("click-17" -> 17)
    send_ms: np.ndarray  # int64, when the row is due, ms after start
    resend: np.ndarray  # bool

    def __len__(self) -> int:
        return len(self.event_id)

    def payloads(self) -> list[tuple[str, str]]:
        """The reference wire format as (key, value) strings."""
        out = []
        for eid, st, uid, et, num in zip(
            self.event_id.tolist(),
            self.stamp_ms.tolist(),
            self.user_id.tolist(),
            self.etype.tolist(),
            self.num.tolist(),
        ):
            out.append(
                (
                    str(eid),
                    json.dumps(
                        {
                            "id": eid,
                            "value": f"{EVENT_TYPES[et]}-{num}",
                            "user_id": f"user{uid}",
                            "timestamp": st / 1000,
                        }
                    ),
                )
            )
        return out


def zipf_users(
    rng: np.random.Generator, n_users: int, size: int, first_user: int = 1
) -> np.ndarray:
    """Zipf(1.0) popularity over ``n_users`` ids; which id is hot is
    itself drawn from the seed."""
    p = 1.0 / np.arange(1, n_users + 1)
    p /= p.sum()
    ranks = rng.choice(n_users, size=size, p=p)
    return rng.permutation(n_users)[ranks].astype(np.int64) + first_user


def wire_rows(
    rng: np.random.Generator,
    *,
    n_events: int,
    n_users: int,
    resend_share: float,
    rate_per_s: float,
    base_ms: int,
    first_id: int,
    first_user: int = 1,
    resend_delay_ms: tuple[int, int] = (200, 10_000),
) -> WireRows:
    """``n_events`` distinct events paced at ``rate_per_s`` (stamp =
    due time, so stamps rise strictly while the rate is at most
    1000/s), plus ``resend_share`` exact re-sends each due a random
    delay after its original."""
    if rate_per_s > 1000:
        raise ValueError("stamps are whole ms: at most 1000 events/s")
    offs = (np.arange(n_events, dtype=np.int64) * 1000) // int(rate_per_s)
    ids = np.arange(first_id, first_id + n_events, dtype=np.int64)
    users = zipf_users(rng, n_users, n_events, first_user)
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    num = rng.integers(0, 200, n_events).astype(np.int64)
    n_re = int(round(n_events * resend_share))
    src = np.sort(rng.choice(n_events, size=n_re, replace=False))
    re_send = offs[src] + rng.integers(*resend_delay_ms, n_re)
    idx = np.concatenate([np.arange(n_events), src])
    send = np.concatenate([offs, re_send])
    order = np.argsort(send, kind="stable")
    idx, send = idx[order], send[order]
    return WireRows(
        event_id=ids[idx],
        stamp_ms=base_ms + offs[idx],
        user_id=users[idx],
        etype=etype[idx],
        num=num[idx],
        send_ms=send,
        resend=np.concatenate(
            [np.zeros(n_events, bool), np.ones(n_re, bool)]
        )[order],
    )


def write_wire_files(rows: WireRows, out_dir: str, n_files: int) -> None:
    """Split the rows, in send order, into ``n_files`` parquet files of
    (key, value) strings — the Kafka topic's file twin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pay = rows.payloads()
    for i, part in enumerate(np.array_split(np.arange(len(pay)), n_files)):
        keys = [pay[j][0] for j in part]
        vals = [pay[j][1] for j in part]
        pq.write_table(
            pa.table({"key": keys, "value": vals}),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


def hub_preload(
    rng: np.random.Generator, n: int, first_id: int, base_ms: int
) -> list[tuple[str, str]]:
    """Events already in the serving hub when the dashboard opens."""
    rows = wire_rows(
        rng,
        n_events=n,
        n_users=10_000,
        resend_share=0.0,
        rate_per_s=1000,
        base_ms=base_ms,
        first_id=first_id,
    )
    return rows.payloads()


def sf_tables(rng: np.random.Generator, out_dir: str) -> None:
    """events / documents / embeddings shaped like sf0.1: 100k events
    from 1.5k users over 30 days, 5k documents over a 31-word
    vocabulary with a near-duplicate tail, 2k unit vectors of dim 64 in
    10 clusters."""
    os.makedirs(out_dir, exist_ok=True)
    n = 100_000
    t0_us = 1_704_067_200_000_000  # 2024-01-01
    ts_us = np.sort(t0_us + rng.integers(0, 30 * 86_400_000_000, n))
    k = rng.integers(0, 100, n)
    pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 200, n), 2),
            "props": [f'{{"k": {int(v)}}}' for v in k],
        }
    ).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)

    n_docs = 5000
    texts = [
        " ".join(rng.choice(VOCAB, size=int(m)).tolist())
        for m in rng.integers(10, 101, n_docs)
    ]
    # near-dup tail: 2% copies of another doc with 1-3 substituted
    # words, 0.16% exact copies
    for i in rng.choice(n_docs, size=n_docs // 50, replace=False):
        words = texts[int(rng.integers(0, n_docs))].split()
        for _ in range(int(rng.integers(1, 4))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts[i] = " ".join(words)
    for i in rng.choice(n_docs, size=8, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))]
    pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)

    n_vec, dim = 2000, 64
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_vec).astype(np.int32)
    x = centers[label] + rng.normal(0.0, 0.12, size=(n_vec, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": [row.astype(np.float32) for row in x],
            "label": label,
        }
    ).to_parquet(os.path.join(out_dir, "embeddings.parquet"), index=False)
