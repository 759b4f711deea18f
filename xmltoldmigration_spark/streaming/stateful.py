"""Custom stateful streaming operator: sessionization via
`applyInPandasWithState` (SURVEY §2.7 / training-pipeline streaming).

The batch twin (`queries/streamq.py::stream_sessionization`, lag+cumsum
windows) is oracle-checked; this operator computes the SAME sessions
over an unbounded stream with explicit per-user state:

    state per user = (last event epoch in microseconds, current session
                      id, current session's n_events / first_event)

Each micro-batch's rows are sessionized VECTORIZED inside the group
(sorted epochs -> diff -> gap>30min -> cumsum -> groupby agg; no
per-event Python loop), seeded from the carried state so sessions span
micro-batches.  Output mode "update": every batch emits the latest
aggregate for each session it touched; downstream consumers keep the
last row per (user_id, session_id) — within a session n_events only
grows and first_event only shrinks, so (max, min) converges to the
batch result.

Scale notes: state is O(active users) and keyed by the shuffle hash of
user_id — the standard Structured Streaming state-store shape; skewed
hot users cost one group each, and the vectorized inner path keeps the
per-batch work linear in batch rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

SESSION_GAP_S = 1800

OUTPUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, first_event bigint"
)
STATE_SCHEMA = (
    "last_epoch bigint, session_id bigint, n_events bigint, first_event bigint"
)


def sessionize_group(key, pdf_iter, state):
    """The applyInPandasWithState group function: one user's micro-batch
    rows, sessionized from the carried state.  Module-level so tests can
    drive the exact production function across arbitrary micro-batch
    splits with a fake GroupState."""
    user_id = key[0]
    chunks = list(pdf_iter)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    # whole microseconds (Spark's timestamp precision) whatever the
    # incoming unit: truncating to seconds would let a 1800.7 s gap
    # continue a session
    epochs = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
    event_ids = rows["event_id"].to_numpy()
    # stable (ts, event_id) order without a pandas sort: lexsort is
    # the numpy analog and skips per-group frame reindexing
    order = np.lexsort((event_ids, epochs))
    epochs = epochs[order]
    event_ids = event_ids[order]

    if state.exists:
        last_epoch, sid, cur_n, cur_first = state.get
    else:
        last_epoch, sid, cur_n, cur_first = None, 0, 0, None

    prev = np.empty_like(epochs)
    prev[1:] = epochs[:-1]
    prev[0] = last_epoch if last_epoch is not None else np.iinfo("int64").min
    new_session = (epochs - prev) > SESSION_GAP_S * 1_000_000
    if last_epoch is None:
        new_session[0] = True
    sids = sid + np.cumsum(new_session)

    # session boundaries -> segment aggregates via reduceat (no
    # per-session pandas groupby; the hot path is thousands of small
    # user groups per batch, so per-group constant cost dominates)
    starts = np.flatnonzero(new_session)
    if starts.size == 0 or starts[0] != 0:
        starts = np.concatenate(([0], starts))
    seg_sids = sids[starts]
    seg_n = np.diff(np.concatenate((starts, [len(sids)])))
    seg_first = np.minimum.reduceat(event_ids, starts)
    # fold the carried open session into its continuation (same sid)
    if cur_n and seg_sids[0] == sid:
        seg_n = seg_n.copy()
        seg_first = seg_first.copy()
        seg_n[0] += cur_n
        seg_first[0] = min(int(seg_first[0]), int(cur_first))
    state.update(
        (int(epochs[-1]), int(seg_sids[-1]), int(seg_n[-1]), int(seg_first[-1]))
    )
    yield pd.DataFrame(
        {
            "user_id": np.full(seg_sids.shape, user_id, dtype="int64"),
            "session_id": seg_sids,
            "n_events": seg_n,
            "first_event": seg_first,
        }
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events stream -> per-session aggregates (update semantics)."""
    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
