"""Event-time streaming tests: watermarked windowed aggregation (late data
dropped), and the applyInPandasWithState running-totals operator carrying
state across microbatches."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from blockchain_etl_spark.streaming.windows import (
    EVENT_SCHEMA,
    running_user_totals,
    windowed_event_counts,
)


def _ev(eid, ts, uid, etype, value):
    return (eid, datetime.fromisoformat(ts), uid, etype, value)


def _write_chunk(spark, rows, path):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(path)


def _run_stream(spark, input_glob, build, sink_name, checkpoint, mode):
    stream = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(input_glob)
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {sink_name}")


def test_watermark_drops_late_data(spark, tmp_path):
    """T2: once the watermark has passed a window (and its state was
    evicted at the previous batch boundary), a late row for that window is
    dropped — `numRowsDroppedByWatermark` counts it and the finalized
    append-mode output excludes it. (A late row landing in the very batch
    where the watermark first crosses its window still merges — watermark
    filtering takes effect one batch after the advance.)"""
    import time

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    chunk1 = [
        _ev(1, "2024-01-01 10:05:00", 1, "click", 1.0),
        _ev(2, "2024-01-01 10:15:00", 1, "click", 1.0),
        _ev(4, "2024-01-01 13:00:00", 2, "click", 1.0),  # watermark → 12:00
    ]
    chunk2 = [
        _ev(6, "2024-01-01 13:10:00", 1, "click", 1.0),  # [10,11) evicted here
    ]
    chunk3 = [
        _ev(5, "2024-01-01 10:30:00", 1, "click", 1.0),  # LATE: dropped
        _ev(7, "2024-01-01 13:20:00", 2, "click", 1.0),
    ]
    for i, c in enumerate([chunk1, chunk2, chunk3]):
        _write_chunk(spark, c, os.path.join(in_dir, f"c={i}"))
        time.sleep(1.1)  # distinct mod times → stable batch order

    stream = spark.readStream.schema(EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir + "/c=*")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # event 5
    out = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    # the finalized 10:00 window excludes the late row
    assert out[(datetime.fromisoformat("2024-01-01 10:00:00"), "click")] == 2


def test_apply_in_pandas_with_state_running_totals(spark, tmp_path):
    """T4: explicit group state carries running totals across microbatches;
    the final per-user values equal the batch recompute."""
    in_dir = str(tmp_path / "in2")
    os.makedirs(in_dir)
    chunk1 = [
        _ev(1, "2024-01-01 10:00:00", 1, "click", 2.0),
        _ev(2, "2024-01-01 10:01:00", 1, "view", 3.0),
        _ev(3, "2024-01-01 10:02:00", 2, "click", 5.0),
    ]
    chunk2 = [
        _ev(4, "2024-01-01 10:03:00", 1, "click", 7.0),
        _ev(5, "2024-01-01 10:04:00", 3, "view", 11.0),
    ]
    _write_chunk(spark, chunk1, os.path.join(in_dir, "c=0"))
    _write_chunk(spark, chunk2, os.path.join(in_dir, "c=1"))

    out = _run_stream(
        spark,
        in_dir + "/c=*",
        running_user_totals,
        "running_totals",
        str(tmp_path / "ckpt2"),
        mode="update",
    ).collect()
    final = {}
    for r in out:  # last update per user wins
        final[r.user_id] = (r.running_events, r.running_value)
    assert final == {1: (3, 12.0), 2: (1, 5.0), 3: (1, 11.0)}


def test_session_window_stream(spark, tmp_path):
    """Session windows close after 30 min of inactivity; append mode emits
    a session only once the watermark passes its end."""
    import time

    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir)
    chunk1 = [
        _ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        _ev(2, "2024-01-01 10:10:00", 1, "click", 1.0),
        _ev(3, "2024-01-01 10:05:00", 2, "view", 1.0),
    ]
    # 11:30 starts a new session for user 1 (gap > 30 min); the 15:00 row
    # advances the watermark so every earlier session finalizes.
    chunk2 = [
        _ev(4, "2024-01-01 11:30:00", 1, "click", 1.0),
        _ev(5, "2024-01-01 15:00:00", 2, "view", 1.0),
    ]
    chunk3 = [_ev(6, "2024-01-01 16:00:00", 2, "view", 1.0)]
    for i, c in enumerate([chunk1, chunk2, chunk3]):
        _write_chunk(spark, c, os.path.join(in_dir, f"c={i}"))
        time.sleep(1.1)

    from blockchain_etl_spark.streaming.windows import sessionized_event_counts

    out = _run_stream(
        spark,
        in_dir + "/c=*",
        sessionized_event_counts,
        "session_counts",
        str(tmp_path / "ckpt3"),
        mode="append",
    ).collect()
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events for r in out
    }
    ts = datetime.fromisoformat
    assert got == {
        (1, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00")): 2,
        (1, ts("2024-01-01 11:30:00"), ts("2024-01-01 12:00:00")): 1,
        (2, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:35:00")): 1,
    }

def test_dedup_within_watermark_drops_redeliveries(spark, tmp_path):
    """Streaming exactly-once dedup: a redelivered event_id inside the
    watermark horizon is dropped; distinct ids all pass; dedup state is
    evicted as the watermark advances (bounded state)."""
    import os
    import time

    from blockchain_etl_spark.streaming.windows import deduped_event_stream

    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir)
    chunk1 = [
        _ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        _ev(2, "2024-01-01 10:01:00", 2, "view", 2.0),
    ]
    chunk2 = [
        _ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),  # redelivery → dropped
        _ev(3, "2024-01-01 10:02:00", 1, "click", 3.0),
    ]
    for i, c in enumerate([chunk1, chunk2]):
        _write_chunk(spark, c, os.path.join(in_dir, f"c={i}"))
        time.sleep(1.1)

    out = _run_stream(
        spark,
        in_dir + "/c=*",
        deduped_event_stream,
        "dedup_stream",
        str(tmp_path / "ckpt3"),
        mode="append",
    ).collect()
    ids = sorted(r.event_id for r in out)
    assert ids == [1, 2, 3]


def test_stream_stream_interval_join_attribution(spark, tmp_path):
    """Purchases attribute to same-user clicks within the preceding hour —
    across microbatch boundaries (clicks arrive in an earlier batch than
    the purchases they match), with out-of-window purchases dropped."""
    from blockchain_etl_spark.streaming.windows import purchase_attribution_stream

    indir = tmp_path / "in"
    os.makedirs(indir)
    # batch 1: clicks only
    _write_chunk(
        spark,
        [
            _ev(1, "2024-01-01 10:00:00", 1, "click", 0.0),
            _ev(4, "2024-01-01 10:00:00", 2, "click", 0.0),
            _ev(5, "2024-01-01 10:45:00", 2, "click", 0.0),
        ],
        str(indir / "c0.parquet"),
    )
    # batch 2: purchases (one in-window per user 1, one exactly-at-horizon
    # and one mid-window for user 2, one out-of-window for user 1)
    _write_chunk(
        spark,
        [
            _ev(2, "2024-01-01 10:30:00", 1, "purchase", 9.5),
            _ev(3, "2024-01-01 12:00:00", 1, "purchase", 1.0),
            _ev(6, "2024-01-01 11:00:00", 2, "purchase", 3.25),
        ],
        str(indir / "c1.parquet"),
    )

    def build(stream):
        clicks = stream.filter(stream.event_type == "click")
        purchases = stream.filter(stream.event_type == "purchase")
        return purchase_attribution_stream(clicks, purchases, horizon_s=3600)

    out = _run_stream(
        spark,
        str(indir / "*.parquet"),
        build,
        "attribution_sink",
        str(tmp_path / "ckpt"),
        "append",
    )
    got = {(r.purchase_id, r.click_id) for r in out.collect()}
    # purchase 2 ← click 1; purchase 6 ← clicks 4 (exactly 1h) and 5;
    # purchase 3 matches nothing (last click 2h earlier)
    assert got == {(2, 1), (6, 4), (6, 5)}
    amounts = {r.purchase_id: r.amount for r in out.collect()}
    assert amounts[2] == 9.5 and amounts[6] == 3.25


def test_streaming_outliers_single_batch_equals_batch_math(spark, tmp_path):
    """T4: one microbatch holding all data == the batch z-test. User 1 has
    30 ordinary values and one wild one; user 2 never reaches min-n."""
    from blockchain_etl_spark.streaming.windows import running_user_outliers

    in_dir = str(tmp_path / "in_out1")
    os.makedirs(in_dir)
    rows = [
        _ev(i, f"2024-01-01 10:{i:02d}:00", 1, "click", 10.0 + (i % 3))
        for i in range(30)
    ]
    rows.append(_ev(99, "2024-01-01 11:00:00", 1, "click", 500.0))
    rows += [_ev(200 + i, "2024-01-01 10:00:00", 2, "view", 1.0) for i in range(5)]
    _write_chunk(spark, rows, os.path.join(in_dir, "c=0"))

    out = _run_stream(
        spark,
        in_dir + "/c=*",
        running_user_outliers,
        "outliers1",
        str(tmp_path / "ckpt_out1"),
        mode="append",
    ).collect()
    flagged = {(r.user_id, r.event_id) for r in out}
    assert flagged == {(1, 99)}
    (row,) = [r for r in out if r.event_id == 99]
    assert row.v_fp == 5_000_000 and row.n_obs == 31


def test_streaming_outliers_state_accumulates_across_batches(spark, tmp_path):
    """Early batches below min-n emit nothing; once cumulative n crosses
    the floor, later rows are judged against ALL observed history."""
    from blockchain_etl_spark.streaming.windows import running_user_outliers

    in_dir = str(tmp_path / "in_out2")
    os.makedirs(in_dir)
    chunk1 = [
        _ev(i, f"2024-01-01 10:{i:02d}:00", 1, "click", 10.0 + (i % 3))
        for i in range(20)
    ]
    chunk2 = [
        _ev(100 + i, f"2024-01-01 11:{i:02d}:00", 1, "click", 10.0 + (i % 3))
        for i in range(15)
    ] + [_ev(999, "2024-01-01 12:00:00", 1, "click", 400.0)]
    _write_chunk(spark, chunk1, os.path.join(in_dir, "c=0"))
    _write_chunk(spark, chunk2, os.path.join(in_dir, "c=1"))

    out = _run_stream(
        spark,
        in_dir + "/c=*",
        running_user_outliers,
        "outliers2",
        str(tmp_path / "ckpt_out2"),
        mode="append",
    ).collect()
    flagged = {(r.user_id, r.event_id) for r in out}
    assert flagged == {(1, 999)}
    (row,) = [r for r in out if r.event_id == 999]
    assert row.n_obs == 36  # judged against the full cumulative history


def test_windowed_trending_terms_stream_equals_batch(spark, tmp_path):
    """Trending terms: append-mode finalized windows equal the batch
    tokenize+count over on-time rows; a document later than the watermark
    (arriving after its window's state was evicted) contributes nothing;
    the top-k pass ranks closed windows with a deterministic
    (count desc, word) tie-break."""
    import time

    from blockchain_etl_spark.streaming.windows import (
        DOC_STREAM_SCHEMA,
        top_terms_per_window,
        windowed_trending_terms,
    )

    def _doc(did, ts, text):
        return (did, datetime.fromisoformat(ts), text)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    chunks = [
        [
            _doc(1, "2024-01-01 10:01:00", "spark spark rows"),
            _doc(2, "2024-01-01 10:05:00", "spark rows batch"),
            _doc(3, "2024-01-01 13:00:00", "advance"),  # watermark -> 12:50
        ],
        [_doc(4, "2024-01-01 13:10:00", "advance")],  # 10:00 window evicted
        [
            _doc(5, "2024-01-01 10:07:00", "spark late late"),  # LATE: dropped
            _doc(6, "2024-01-01 14:00:00", "tail"),
        ],
    ]
    for i, c in enumerate(chunks):
        spark.createDataFrame(c, DOC_STREAM_SCHEMA).coalesce(1).write.parquet(
            os.path.join(in_dir, f"c={i}")
        )
        time.sleep(1.1)  # distinct mod times -> stable batch order
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(in_dir + "/c=*")
    q = (
        windowed_trending_terms(stream)
        .writeStream.format("memory")
        .queryName("trending")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    counts = spark.sql("SELECT * FROM trending")
    got = {(r.window_start.isoformat(), r.word): r.n for r in counts.collect()}
    w10 = "2024-01-01T10:00:00"
    assert got[(w10, "spark")] == 3
    assert got[(w10, "rows")] == 2
    assert got[(w10, "batch")] == 1
    assert "late" not in {k[1] for k in got if k[0] == w10}
    top = top_terms_per_window(counts.filter(f"window_start = '{w10}'"), k=2).collect()
    assert [(r.word, r.n, r.rank) for r in sorted(top, key=lambda r: r.rank)] == [
        ("spark", 3, 1),
        ("rows", 2, 2),
    ]


def test_scd2_stream_matches_batch_closed_intervals(spark, tmp_path):
    """Streaming SCD2 (applyInPandasWithState) must emit exactly the batch
    plan's CLOSED intervals — each once, across arbitrary chunking — while
    the open interval stays in group state."""
    from blockchain_etl_spark.plans.quality import user_state_intervals
    from blockchain_etl_spark.streaming.windows import user_state_scd2_stream

    rows = []
    # two users, interleaved state runs; chunk boundary mid-run
    seq = [
        (1, "2024-01-01T00:00:00", 1, "view"),
        (2, "2024-01-01T00:01:00", 1, "view"),
        (3, "2024-01-01T00:02:00", 2, "click"),
        (4, "2024-01-01T00:03:00", 1, "click"),
        (5, "2024-01-01T00:04:00", 2, "click"),
        (6, "2024-01-01T00:05:00", 1, "click"),
        (7, "2024-01-01T00:06:00", 2, "purchase"),
        (8, "2024-01-01T00:07:00", 1, "view"),
    ]
    for eid, ts, uid, et in seq:
        rows.append(_ev(eid, ts, uid, et, 1.0))

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_chunk(spark, rows[:3], os.path.join(in_dir, "c=0"))
    _write_chunk(spark, rows[3:6], os.path.join(in_dir, "c=1"))
    _write_chunk(spark, rows[6:], os.path.join(in_dir, "c=2"))

    got = _run_stream(
        spark,
        in_dir + "/c=*",
        user_state_scd2_stream,
        "scd2_sink",
        str(tmp_path / "ck"),
        "append",
    )
    stream_closed = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to) for r in got.collect()
    }

    # batch ground truth over the SAME rows, closed intervals only
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    batch = user_state_intervals(spark, sf_dir).filter("is_current = 0")
    batch_closed = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to) for r in batch.collect()
    }
    assert stream_closed == batch_closed
    assert len(stream_closed) > 0


def test_events_sessionized_gap_keeps_fractional_seconds(spark, tmp_path):
    """A 1800.5 s gap exceeds the 30-minute threshold and starts a new
    session: the gap is compared in microseconds, as the oracle's
    fractional epoch() difference is, not in whole seconds."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from blockchain_etl_spark.plans.registry import get_oracle_sql, get_queries

    events = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    datetime.fromisoformat("2024-01-01 00:00:00.200000"),
                    datetime.fromisoformat("2024-01-01 00:30:00.700000"),
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": pa.array(["view", "view"]),
            "value": pa.array([1.0, 1.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(events, str(tmp_path / "events.parquet"))
    plan = get_queries()["events_sessionized"]
    got = sorted(
        (r.session_no, r.n_events) for r in plan(spark, str(tmp_path)).collect()
    )
    assert got == [(1, 1), (2, 1)]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    oracle = con.execute(get_oracle_sql()["events_sessionized"]).fetchall()
    assert len(oracle) == 2
