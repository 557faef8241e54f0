"""Custom stateful streaming — ``applyInPandasWithState`` (SURVEY
§2.9: the engine's generalization beyond the reference's stateless
per-file fan-out).

``running_user_totals`` keeps per-user state (event count, value sum,
last-seen µs) across micro-batches — the streaming twin of the
telemetry per-run accumulations (flow_analyzer.py:211-293), with
bounded state instead of the reference's unbounded seen-set.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from picoprobedataflow_spark import ship_by_value

STATE_SCHEMA = "n long, total double, last_us long"
OUTPUT_SCHEMA = "user_id long, n long, total double, last_us long"


def _update(key, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_us = max(last_us, int(pdf["ts"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame([{"user_id": user_id, "n": n,
                         "total": total, "last_us": last_us}])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals with explicit state. ``events`` must
    have (user_id long, ts long µs, value double); works on a stream
    (state persists across micro-batches via the checkpoint)."""
    return (events.groupBy("user_id")
            .applyInPandasWithState(
                _update,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


ship_by_value(__name__)


EXPIRING_STATE_SCHEMA = "n long, total double, last_ms long"
EXPIRING_OUT_SCHEMA = ("user_id long, n long, total double, "
                       "finalized boolean")


def _expiring_update(key, pdfs: Iterator[pd.DataFrame],
                     state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        n, total, _last = state.get
        state.remove()
        yield pd.DataFrame([{"user_id": user_id, "n": n,
                             "total": total, "finalized": True}])
        return
    n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ms = max(last_ms,
                      int(pdf["ts"].max().timestamp() * 1000))
    state.update((n, total, last_ms))
    # Deadline = last event + gap, clamped above the current
    # watermark (Spark rejects a timeout at/behind the watermark —
    # reachable when a key's only events arrive already-late).
    state.setTimeoutTimestamp(
        max(last_ms + _EXPIRY_GAP_MS,
            state.getCurrentWatermarkMs() + 1))
    yield pd.DataFrame([{"user_id": user_id, "n": n,
                         "total": total, "finalized": False}])


_EXPIRY_GAP_MS = 60_000


def expiring_user_totals(events: DataFrame,
                         watermark: str = "10 seconds") -> DataFrame:
    """Per-user running totals whose state EXPIRES on event time —
    the bounded-state discipline production stateful streaming
    needs: a key idle past the gap is finalized (one last row with
    ``finalized = true``) and its state is REMOVED, so state size
    tracks the set of RECENTLY-ACTIVE keys, not every key ever
    seen (the reference's unbounded seen-set, made bounded).
    ``events`` must carry (user_id long, ts timestamp, value
    double); the watermark drives both lateness and expiry —
    a key's timeout fires when the watermark passes its last event
    + 60 s. EventTimeTimeout, so expiry is deterministic in event
    time, not wall clock."""
    ev = events.withWatermark("ts", watermark)
    return (ev.groupBy("user_id")
            .applyInPandasWithState(
                _expiring_update,
                outputStructType=EXPIRING_OUT_SCHEMA,
                stateStructType=EXPIRING_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))
