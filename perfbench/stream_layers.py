"""Per-layer numbers of a streaming run, read from the public
``StreamingQueryProgress`` records (``durationMs``, ``stateOperators``)."""

from __future__ import annotations

from datetime import datetime

from tracing import ProgressLog, median


def started(batch: dict) -> float:
    """When a batch's trigger started, epoch seconds."""
    return datetime.fromisoformat(batch["timestamp"].replace("Z", "+00:00")).timestamp()


def _state_op(batch: dict, prefix: str) -> dict | None:
    for so in batch.get("stateOperators", []):
        if so.get("operatorName", "").lower().startswith(prefix):
            return so
    return None


def pipeline_layers(
    prog: ProgressLog, admitted: int, since: float = 0.0
) -> dict:
    """sources / streaming.pipeline / dedup / rate-limit metrics over the
    batches that started at or after ``since`` (epoch s).  ``admitted``
    is the number of rows the limiter let through in them, counted at
    the sink by the caller."""
    all_b = [b for b in prog.batches() if started(b) >= since]
    data = [b for b in all_b if int(b.get("numInputRows", 0)) > 0]

    def dur(k: str) -> float:
        return median(float(b.get("durationMs", {}).get(k, 0)) for b in data)

    dd = [so for b in all_b if (so := _state_op(b, "dedupewithinwatermark"))]
    rl = [so for b in all_b if (so := _state_op(b, "applyinpandaswithstate"))]
    rows_in = sum(int(b["numInputRows"]) for b in data)
    passed = sum(int(so.get("numRowsUpdated", 0)) for so in dd)

    def ms(ops: list, k: str) -> float:
        return median(float(so.get(k, 0)) for so in ops)

    def peak(ops: list, k: str) -> float:
        return float(max((int(so.get(k, 0)) for so in ops), default=0))

    return {
        "sources.offset_ms": median(
            float(b.get("durationMs", {}).get("latestOffset", 0))
            + float(b.get("durationMs", {}).get("getBatch", 0))
            for b in data
        ),
        "pipeline.trigger_ms": dur("triggerExecution"),
        "pipeline.plan_ms": dur("queryPlanning"),
        "pipeline.wal_ms": dur("walCommit"),
        "pipeline.batches": float(len(all_b)),
        "pipeline.rows_per_batch": median(float(b["numInputRows"]) for b in data),
        "dedup.state_rows": peak(dd, "numRowsTotal"),
        "dedup.state_bytes": peak(dd, "memoryUsedBytes"),
        "dedup.commit_ms": ms(dd, "commitTimeMs"),
        "dedup.removal_ms": ms(dd, "allRemovalsTimeMs"),
        "dedup.dropped_dup_rows": float(rows_in - passed),
        "dedup.pass_ratio": passed / rows_in if rows_in else 0.0,
        "ratelimit.update_ms": ms(rl, "allUpdatesTimeMs"),
        "ratelimit.removal_ms": ms(rl, "allRemovalsTimeMs"),
        "ratelimit.commit_ms": ms(rl, "commitTimeMs"),
        "ratelimit.state_rows": peak(rl, "numRowsTotal"),
        "ratelimit.admit_ratio": admitted / passed if passed else 0.0,
    }
