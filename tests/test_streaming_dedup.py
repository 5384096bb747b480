"""Streaming dedup: canonical labeling matches batch exact-dedup semantics,
watermark path keeps first-seen only."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("warc_ts", TimestampType()),
    ]
)

T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def _rows_batch1():
    return [
        (1, "alpha page", T0),
        (2, "beta page", T0 + dt.timedelta(minutes=1)),
        (3, "alpha page", T0 + dt.timedelta(minutes=2)),  # dup of 1, same batch
    ]


def _rows_batch2():
    return [
        (4, "alpha page", T0 + dt.timedelta(minutes=3)),  # dup of 1, later batch
        (5, "gamma page", T0 + dt.timedelta(minutes=4)),
    ]


def _stream_two_batches(spark, tmp_path, name):
    src = str(tmp_path / f"src_{name}")
    spark.createDataFrame(_rows_batch1(), SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(_rows_batch2(), SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    return (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )


def test_stream_canonicalize(spark, tmp_path):
    from splade_spark.streaming import stream_canonicalize

    out = stream_canonicalize(_stream_two_batches(spark, tmp_path, "canon"))
    q = (
        out.writeStream.format("memory")
        .queryName("canon_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_canon"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_first"])
        for r in spark.sql("select * from canon_sink").collect()
    }
    assert got == {
        1: (1, True),
        2: (2, True),
        3: (1, False),
        4: (1, False),  # cross-micro-batch duplicate: state carried canonical
        5: (5, True),
    }

    # group membership equals batch exact_dups over the same rows
    from splade_spark.curation.dedup import exact_dups

    all_rows = spark.createDataFrame(_rows_batch1() + _rows_batch2(), SCHEMA)
    batch = {
        r["doc_id"]: r["canonical_id"] for r in exact_dups(all_rows).collect()
    }
    groups_stream = {}
    for d, (c, _) in got.items():
        groups_stream.setdefault(c, set()).add(d)
    groups_batch = {}
    for d, c in batch.items():
        groups_batch.setdefault(c, set()).add(d)
    assert sorted(groups_stream.values(), key=min) == sorted(
        groups_batch.values(), key=min
    )


class _FakeState:
    """Minimal GroupState double for unit-testing the group fn contract."""

    def __init__(self, exists=False, value=None, timed_out=False):
        self._exists, self._value = exists, value
        self.hasTimedOut = timed_out
        self.removed, self.updated, self.timeout_set = False, None, None

    @property
    def exists(self):
        return self._exists

    @property
    def get(self):
        return self._value

    def remove(self):
        self.removed = True

    def update(self, v):
        self.updated = v

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_canonicalize_group_fn_multichunk_global_min():
    """A digest group spanning several Arrow chunks must pick the GLOBAL
    (warc_ts, doc_id)-min as canonical, even when it arrives in a later
    chunk — chunk boundaries are an execution detail (ADVICE r4)."""
    import pandas as pd

    from splade_spark.streaming.dedup import _canonicalize_group_fn

    fn = _canonicalize_group_fn(None)
    chunk1 = pd.DataFrame(
        {"doc_id": [5, 7], "text_md5": ["d", "d"],
         "warc_ts": [T0 + dt.timedelta(minutes=1)] * 2}
    )
    chunk2 = pd.DataFrame({"doc_id": [2], "text_md5": ["d"], "warc_ts": [T0]})
    state = _FakeState()
    out = pd.concat(list(fn(("d",), iter([chunk1, chunk2]), state)))
    assert set(out["canonical_id"]) == {2}  # min lives in the SECOND chunk
    assert dict(zip(out["doc_id"], out["is_first"])) == {2: True, 5: False, 7: False}
    assert state.updated == (2,) and state.timeout_set is None


def test_canonicalize_group_fn_state_expiry():
    """State lifecycle: a timed-out key removes its state and emits nothing;
    a live key with a configured timeout re-arms it every batch — the
    bounded-state knob for genuinely long-running streams."""
    import pandas as pd

    from splade_spark.streaming.dedup import _canonicalize_group_fn

    fn = _canonicalize_group_fn(3_600_000)
    expired = _FakeState(exists=True, value=(1,), timed_out=True)
    assert list(fn(("d",), iter([]), expired)) == []
    assert expired.removed

    live = _FakeState(exists=True, value=(1,))
    chunk = pd.DataFrame({"doc_id": [9], "text_md5": ["d"], "warc_ts": [T0]})
    out = pd.concat(list(fn(("d",), iter([chunk]), live)))
    assert list(out["canonical_id"]) == [1]  # carried from state, not re-picked
    assert live.updated == (1,) and live.timeout_set == 3_600_000


def test_stream_exact_dedup(spark, tmp_path):
    from splade_spark.streaming import stream_exact_dedup

    out = stream_exact_dedup(_stream_two_batches(spark, tmp_path, "drop"))
    q = (
        out.writeStream.format("memory")
        .queryName("drop_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_drop"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(
        r["doc_id"] for r in spark.sql("select * from drop_sink").collect()
    )
    assert kept == [1, 2, 5]


def test_stream_canonicalize_event_time_expiry(spark, tmp_path):
    """Watermark-bounded state (VERDICT r4 #3): with timeout_mode='event' a
    digest's state expires once the watermark passes last-seen + horizon, so
    a re-crawl AFTER expiry starts a fresh canonical group instead of
    growing state forever. Batch boundaries forced by restarting the
    availableNow query per file against one checkpoint (watermark and state
    are checkpointed)."""
    _event_time_expiry(spark, tmp_path)


def test_stream_canonicalize_event_time_expiry_non_utc(spark, tmp_path):
    """The expiry clock is the event's instant, not its wall time in the
    session time zone: under UTC+9, epoch ms taken from the tz-naive pandas
    timestamp would land 9 h late and alpha's state would never expire."""
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo")
    try:
        _event_time_expiry(spark, tmp_path)
    finally:
        spark.conf.set(key, saved)


def test_stream_canonicalize_event_time_late_group(spark, tmp_path):
    """A group whose last-seen + horizon is already behind the watermark.
    Beta (T0+10h) and alpha (T0) are two micro-batches of one run: alpha's
    batch filters late rows by the previous batch's watermark, so alpha
    passes, while eviction uses the new one (T0+9h). Spark rejects a timeout
    behind the watermark (the query would fail), so alpha's is clamped to
    just past it and alpha expires once the watermark moves on."""
    h = lambda hrs: T0 + dt.timedelta(hours=hrs)  # noqa: E731
    got = _run_event_batches(spark, tmp_path, [
        [[(1, "beta page", h(10))], [(2, "alpha page", T0)]],  # T0+2h < T0+9h
        [[(3, "gamma page", h(12))]],  # watermark → T0+11h: alpha expires
        [[(4, "alpha page", h(11.5))]],  # re-crawl after expiry → NEW canonical
    ])
    assert got == {1: (1, True), 2: (2, True), 3: (3, True), 4: (4, True)}


def _event_time_expiry(spark, tmp_path):
    h = lambda hrs: T0 + dt.timedelta(hours=hrs)  # noqa: E731
    got = _run_event_batches(spark, tmp_path, [
        [[(1, "alpha page", T0)]],   # seeds alpha's state; timeout ts = T0+2h
        [[(2, "beta page", h(10))]],  # watermark → T0+9h (past alpha's timeout)
        [[(3, "gamma page", h(10))]],  # alpha has NO data → timeout fires, state removed
        [[(4, "alpha page", h(9.5))]],  # re-crawl after expiry → NEW canonical
    ])
    assert got == {1: (1, True), 2: (2, True), 3: (3, True), 4: (4, True)}


def _run_event_batches(spark, tmp_path, runs):
    """One availableNow run of an event-time stream_canonicalize (2 h
    horizon, 1 h watermark delay) per entry of ``runs``, all against one
    checkpoint; each run's batches are files read one per micro-batch.
    Returns doc_id → (canonical_id, is_first)."""
    from splade_spark.streaming import stream_canonicalize

    src = str(tmp_path / "esrc")
    out_dir = str(tmp_path / "eout")
    mode = "overwrite"
    for batches in runs:
        for b in batches:
            spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode(mode).parquet(src)
            mode = "append"
        stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        q = (
            stream_canonicalize(
                stream, state_timeout_hours=2.0, timeout_mode="event",
                watermark_delay="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "eckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return {
        r["doc_id"]: (r["canonical_id"], r["is_first"])
        for r in spark.read.parquet(out_dir).collect()
    }


def test_windowed_event_counts_watermark(spark, tmp_path):
    """Append-mode window finalization + late-data handling: a window is
    emitted once the watermark passes its end; an event older than the
    watermark is dropped; batch mode over the same rows is the ground truth
    minus the dropped-late event."""
    from splade_spark.streaming import windowed_event_counts

    ESCHEMA = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
            StructField("value", LongType()),
        ]
    )
    h = lambda m: T0 + dt.timedelta(minutes=m)  # noqa: E731
    batch1 = [  # events in hour-window [12:00, 13:00)
        (h(5), "click", 1),
        (h(10), "click", 2),
        (h(20), "view", 3),
    ]
    # watermark advances at the END of a batch, so the drop needs 3 batches:
    # batch2's 15:20 event pushes the watermark to 14:20; batch3's 12:15
    # event then arrives BEHIND it and is discarded. Batch boundaries are
    # forced by RESTARTING the availableNow query per file against one
    # checkpoint (the watermark is checkpointed state) — maxFilesPerTrigger
    # ordering by mtime proved nondeterministic for same-second writes.
    batch2 = [(h(200), "click", 4)]
    batch3 = [(h(15), "view", 100)]
    src = str(tmp_path / "esrc")

    out_dir = str(tmp_path / "win_out")

    def _run_once():
        # parquet sink: supports checkpoint recovery (memory sink does not)
        # and accumulates finalized windows across the three restarts
        stream = spark.readStream.schema(ESCHEMA).parquet(src)
        q = (
            windowed_event_counts(stream, "1 hour", "1 hour")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_win"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(batch1, ESCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    _run_once()
    spark.createDataFrame(batch2, ESCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_once()
    spark.createDataFrame(batch3, ESCHEMA).coalesce(1).write.mode("append").parquet(src)
    _run_once()
    got = {
        (r.window_start, r.event_type): (r.n, r.value_sum)
        for r in spark.read.parquet(out_dir).collect()
    }
    w0 = int(T0.replace(minute=0).timestamp())
    # the 12:00 window finalized WITHOUT the dropped late 'view' event
    assert got[(w0, "click")] == (2, 3.0)
    assert got[(w0, "view")] == (1, 3.0)
    # the 15:00 window is NOT in append output (watermark hasn't passed it)
    w15 = int((T0.replace(minute=0) + dt.timedelta(hours=3)).timestamp())
    assert (w15, "click") not in got

    # batch mode over the ON-TIME rows reproduces the finalized window
    batch = {
        (r.window_start, r.event_type): (r.n, r.value_sum)
        for r in windowed_event_counts(
            spark.createDataFrame(batch1, ESCHEMA)
        ).collect()
    }
    assert batch[(w0, "click")] == got[(w0, "click")]
    assert batch[(w0, "view")] == got[(w0, "view")]


def test_sessionize_events_batch(spark):
    """Hand-built session structure: gap merging, boundary at exactly the
    gap, per-user isolation, session_end = last event + gap."""
    from splade_spark.streaming import sessionize_events

    ESCHEMA = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("value", LongType()),
        ]
    )
    m = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    rows = [
        # user 1: events at 0, 4, 8 chain (gaps < 5 min); the event at 13 is
        # EXACTLY 5 min after 8 — adjacency MERGES in Spark's session_window
        # (strict > breaks); the event at 19 (gap 6 min) starts a new session
        (m(0), 1, 10),
        (m(4), 1, 20),
        (m(8), 1, 30),
        (m(13), 1, 40),
        (m(19), 1, 50),
        # user 2: one lone event — its own session
        (m(2), 2, 5),
    ]
    out = {
        (r.user_id, r.session_start): (r.session_end, r.n, r.value_sum)
        for r in sessionize_events(
            spark.createDataFrame(rows, ESCHEMA), gap="5 minutes"
        ).collect()
    }
    e = lambda mins: int((T0 + dt.timedelta(minutes=mins)).timestamp())  # noqa: E731
    assert out == {
        (1, e(0)): (e(18), 4, 100),  # closes 5 min after last event (13+5)
        (1, e(19)): (e(24), 1, 50),
        (2, e(2)): (e(7), 1, 5),
    }
