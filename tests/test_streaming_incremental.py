"""Stateful streaming sessionization (streaming/stateful.py): the stream
converges to the batch answer, however it is cut into micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization over a 2-batch stream equals
    the oracle-checked batch lag+cumsum query: sessions span micro-batch
    boundaries via the carried (last_epoch, session) state."""
    import time

    from pyspark.sql.window import Window as W
    from xmltoldmigration_spark.streaming.stateful import sessionize_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("user_id") < 40
    )
    # split by TIME into two files so the session state must carry over
    # (event-time order across batches is what the state contract assumes)
    cut = ev.select(F.unix_timestamp("ts").alias("e")).approxQuantile("e", [0.5], 0.0)[0]
    src_dir = tmp_path / "events_stream"
    ev.filter(F.unix_timestamp("ts") <= cut).coalesce(1).write.parquet(str(src_dir))
    time.sleep(1.1)  # file source orders batches by modification time
    ev.filter(F.unix_timestamp("ts") > cut).coalesce(1).write.mode("append").parquet(str(src_dir))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_updates")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming query timed out"
    # update semantics: within one (user, session) the n_events of
    # successive updates only grows and first_event only shrinks, so the
    # final row is (max n_events, min first_event)
    finals = (
        spark.table("sess_updates")
        .groupBy("user_id", "session_id")
        .agg(F.max("n_events").alias("n_events"), F.min("first_event").alias("first_event"))
    )
    got = {
        (r.user_id, r.session_id): (r.n_events, r.first_event)
        for r in finals.collect()
    }

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    batch = (
        ev.withColumn("new_session",
                      F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event"))
    )
    want = {
        (r.user_id, r.session_id): (r.n_events, r.first_event)
        for r in batch.collect()
    }
    assert got == want and len(want) > 20


class _FakeState:
    """Minimal GroupState stand-in for driving the production group fn."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _batch_sessionize(events, gap_s=1800):
    """Pure-Python oracle: events = [(epoch_us, event_id)] for ONE user ->
    {session_id: (n_events, first_event)} with sessions numbered 1..k in
    (epoch_us, event_id) order, split on gap > gap_s."""
    out = {}
    sid, last = 0, None
    for ep, eid in sorted(events):
        if last is None or ep - last > gap_s * 1_000_000:
            sid += 1
            out[sid] = [0, eid]
        out[sid][0] += 1
        out[sid][1] = min(out[sid][1], eid)
        last = ep
    return {k: tuple(v) for k, v in out.items()}


from hypothesis import example, given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50_000_000_000), st.integers(0, 1_000_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.lists(st.integers(1, 60), max_size=4),
)
# a 1800.753 s gap opens a session, an exact 1800 s gap does not
@example([(0, 1), (1_800_753_000, 2), (3_600_753_000, 3)], [])
@example([(0, 1), (1_800_753_000, 2), (3_600_753_000, 3)], [1, 2])
def test_stateful_sessionizer_split_invariant(events, cuts):
    """The production applyInPandasWithState group function must produce
    the same final per-session aggregates as the batch oracle no matter
    where the stream is cut into micro-batches (update-mode consumers
    keep the LAST row per (user, session): n_events only grows and
    first_event only shrinks within a session)."""
    import numpy as np
    import pandas as pd

    from xmltoldmigration_spark.streaming.stateful import sessionize_group as fn

    ordered = sorted(events)  # stream arrival order = event-time order
    batches, prev = [], 0
    for c in sorted(min(c, len(ordered)) for c in cuts) + [len(ordered)]:
        if c > prev:
            batches.append(ordered[prev:c])
            prev = c

    state = _FakeState()
    final = {}
    for batch in batches:
        pdf = pd.DataFrame(
            {
                "ts": np.array([e[0] for e in batch], dtype="int64").astype(
                    "datetime64[us]"
                ),
                "event_id": np.array([e[1] for e in batch], dtype="int64"),
            }
        )
        for out in fn((7,), iter([pdf]), state):
            for r in out.itertuples(index=False):
                assert r.user_id == 7
                final[int(r.session_id)] = (int(r.n_events), int(r.first_event))

    assert final == _batch_sessionize(events)
