"""Custom stateful streaming operator: gap-based sessionization.

The reference carries client-provided session ids ($sid →
$zg_sid, operator/id/SessionIdProcessOperator.java:26-95) and leaves
session *construction* to the product layer. A Spark-native engine can do
better: an event-time session window per (app_id, zg_did) with an
inactivity gap, implemented with applyInPandasWithState — the custom-stateful-
operator extension point (SURVEY.md §2.10) for semantics Spark's built-in
windowing can't express (session windows keyed by entity with per-key
emission on gap expiry).

State per key: (session_start_ms, last_event_ms, n_events). An incoming
batch extends the open session when the gap is at most ``gap_ms``,
otherwise emits the closed session and starts a new one. No timer closes
an idle session between batches: a processing-time timeout keeps
scheduling empty micro-batches under Trigger.AvailableNow, so the bounded
replay never terminates (observed: 220 epochs from one input file). An
idle session stays open until its next event or the job's end.

Scale: state size ∝ active entities; keys are hash-partitioned by the
state store, so a 1000-executor cluster shards state evenly. Skewed apps
don't matter — the key includes the device.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = (
    "app_id BIGINT, zg_did BIGINT, session_start BIGINT, session_end BIGINT, "
    "n_events BIGINT, closed BOOLEAN"
)
STATE_SCHEMA = "session_start BIGINT, last_event BIGINT, n_events BIGINT"

DEFAULT_GAP_MS = 30 * 60 * 1000


def _sessionize_fn(gap_ms: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        app_id, zg_did = key
        rows = []
        ts = sorted(
            int(t)
            for pdf in pdfs
            for t in pdf["ct"].tolist()
        )
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_ms:
                last, n = max(last, t), n + 1
            else:
                rows.append((app_id, zg_did, start, last, n, True))
                start, last, n = t, t, 1
        if start is not None:
            state.update((start, last, n))
            # open session emitted as a progress row (closed=False)
            rows.append((app_id, zg_did, start, last, n, False))

        yield pd.DataFrame(
            rows,
            columns=[
                "app_id", "zg_did", "session_start", "session_end",
                "n_events", "closed",
            ],
        )

    return fn


def sessionize(events: DataFrame, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """events: streaming DataFrame with (app_id, zg_did, ct millis).
    Returns the session stream (one row per closed session + progress rows
    for still-open sessions)."""
    return (
        events.groupBy("app_id", "zg_did")
        .applyInPandasWithState(
            _sessionize_fn(gap_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
