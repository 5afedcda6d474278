"""Independent reference results the output checks compare against.

The admitted set is recomputed here row by row from the generated
inputs — exact dedup on the event id, then the reference system's
per-user limiter (INCR + EXPIRE-on-first: a window opens at a user's
first event, admits ``limit`` events, and the first event at or past
``window`` later opens the next one) — without any engine code.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from inputs import EVENT_TYPES, WireRows


def stamp_us(stamp_ms: np.ndarray) -> np.ndarray:
    """Event time as the engine derives it from the wire payload: the
    JSON double of seconds times 1e6, truncated to whole µs."""
    return ((np.asarray(stamp_ms, dtype=np.int64) / 1000.0) * 1e6).astype(
        np.int64
    )


def admitted(
    rows: WireRows, limit: int = 5, window_s: int = 60
) -> pd.DataFrame:
    """The events the pipeline must deliver, one row per event."""
    first = ~pd.Series(rows.event_id).duplicated().to_numpy()
    ev = pd.DataFrame(
        {
            "event_id": rows.event_id[first],
            "ts_us": stamp_us(rows.stamp_ms[first]),
            "user_id": rows.user_id[first],
            "etype": rows.etype[first],
            "num": rows.num[first],
        }
    ).sort_values(["user_id", "ts_us", "event_id"], kind="stable")
    window_us = window_s * 1_000_000
    keep = np.zeros(len(ev), dtype=bool)
    user, anchor, count = None, 0, 0
    for i, (u, t) in enumerate(
        zip(ev["user_id"].tolist(), ev["ts_us"].tolist())
    ):
        if u != user or t >= anchor + window_us:
            user, anchor, count = u, t, 0
        if count < limit:
            keep[i] = True
        count += 1
    return ev[keep].reset_index(drop=True)


def store_frame(adm: pd.DataFrame) -> pd.DataFrame:
    """The keyed store's expected rows in the engine's canonical event
    columns (ts as epoch µs)."""
    value = adm["num"].astype(np.float64)
    return pd.DataFrame(
        {
            "event_id": adm["event_id"].astype(np.int64),
            "ts_us": adm["ts_us"].astype(np.int64),
            "user_id": adm["user_id"].astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in adm["etype"]],
            "value": value,
            "props": [f'{{"k":{v!r}}}' for v in value.tolist()],
        }
    )


def _cell(v) -> str:
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            v = 0.0  # -0.0 and 0.0 hash alike
    if isinstance(v, np.generic):
        v = v.item()
    return repr(v)


def fingerprint(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """Order-insensitive (rows, columns, value hash) of a result."""
    cols = tuple(sorted(df.columns))
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[list(cols)].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(df), cols, h
