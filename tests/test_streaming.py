"""Streaming tests (SURVEY.md §5.3-5.4): batch/stream equivalence, late
data + watermark semantics, fan-out sink, stream-static and stream-stream
joins, session windows — the parity the reference's two divergent
implementations (spark_consumer vs analytical_server) never established.

File-replay fixtures: events rows re-written as multiple parquet files in
ts order; ``maxFilesPerTrigger=1`` makes each file one micro-batch, so
watermark progression is scripted by the file split.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.sources.streams import (
    file_replay_stream,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    decode_wire_events,
    enrich_stream_static,
    session_windows,
    sliding_rolling_counts,
    stream_stream_join,
    windowed_counts_scaled,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.sinks import (
    fanout_foreach_batch,
    start_memory_sink,
)


@pytest.fixture(scope="module")
def events_df(spark, sf_dir):
    # first 2 hours of events — plenty of 1-minute windows, quick streams
    ev = table(spark, sf_dir, "events")
    lo = ev.agg(F.min("ts")).collect()[0][0]
    return ev.filter(
        F.col("ts") < F.lit(lo) + F.expr("INTERVAL 2 HOURS")
    ).select("event_id", "ts", "user_id", "event_type", "value")


@pytest.fixture()
def replay_dir(tmp_path, events_df):
    """events split into 4 ts-ordered parquet files (one per micro-batch)."""
    out = tmp_path / f"replay_{uuid.uuid4().hex[:8]}"
    n = events_df.count()
    chunk = n // 4 + 1
    rows = events_df.orderBy("ts", "event_id").collect()
    schema = events_df.schema
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            events_df.sparkSession.createDataFrame(part, schema).coalesce(
                1
            ).write.parquet(str(out / f"part{i:02d}"))
    # flatten: move part files up so the dir is one flat parquet dataset
    flat = tmp_path / f"flat_{uuid.uuid4().hex[:8]}"
    flat.mkdir()
    idx = 0
    for sub in sorted(out.iterdir()):
        for f in sorted(sub.glob("*.parquet")):
            f.rename(flat / f"{idx:02d}.parquet")
            idx += 1
    return str(flat), schema


def _run_to_completion(stream_df, name, mode):
    q = start_memory_sink(stream_df, name, output_mode=mode)
    q.processAllAvailable()
    q.stop()


def test_stream_equals_batch_complete(spark, events_df, replay_dir):
    """Complete-mode final state == the batch aggregation (§5.3)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"agg_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "complete")
    got = {
        (r["event_type"], r["window"]["start"]): (r["cnt"], r["scaled_count"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["event_type"], r["minute"]): (r["cnt"], r["scaled_count"])
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "scaled_count",
            F.when(F.col("cnt") <= 1000, F.lit(1)).otherwise(
                F.col("cnt") / F.lit(1000.0)
            ),
        )
        .collect()
    }
    assert got == expected


def test_stream_update_mode_last_writes_equal_batch(spark, events_df, replay_dir):
    """Update mode: the LAST update per key equals the batch answer, and
    (unlike the reference's complete mode) each trigger emits only changed
    windows."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"upd_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "update")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    last = {}
    for r in rows:  # counts are monotonic per key -> max == final
        key = (r["event_type"], r["window"]["start"])
        last[key] = max(last.get(key, 0), r["cnt"])
    expected = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert last == expected
    # update mode re-emitted fewer rows than complete re-emission would
    n_windows = len(expected)
    assert len(rows) < 4 * n_windows, "update mode should not re-emit all state each trigger"


def test_shuffled_order_within_watermark_invariant(spark, events_df, tmp_path):
    """§5.4: event order shuffled (within watermark tolerance) — final
    complete-mode state is unchanged."""
    shuffled = events_df.orderBy(F.xxhash64("event_id"))
    out = tmp_path / f"shuf_{uuid.uuid4().hex[:8]}"
    shuffled.coalesce(2).write.parquet(str(out))
    stream = file_replay_stream(spark, str(out), events_df.schema, 1)
    name = f"shuf_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        windowed_counts_scaled(stream, watermark="365 days"), name, "complete"
    )
    got = spark.sql(f"SELECT sum(cnt) AS n FROM {name}").collect()[0]["n"]
    assert got == events_df.count()


def test_append_mode_emits_only_watermark_closed_windows(spark, events_df, replay_dir):
    """Append + watermark: emitted rows are exactly the batch rows for
    windows the final watermark passed — the state actually bounded, unlike
    the reference's complete-mode + watermark combination (SURVEY §2.9 ST1)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"app_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_counts_scaled(stream), name, "append")
    emitted = {
        (r["event_type"], r["window"]["start"]): r["cnt"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    max_ts = events_df.agg(F.max("ts")).collect()[0][0]
    assert emitted, "watermark should have closed at least the early windows"
    for key, cnt in emitted.items():
        assert batch[key] == cnt
        # every emitted window closed before the final watermark
        assert key[1] < max_ts


def test_late_beyond_watermark_dropped(spark, tmp_path):
    """§5.4: an event arriving after the watermark passed its window is
    dropped (documented divergence from the Python service, which miscounts
    it into the current minute — reference analytical_server.py:33-36)."""
    base = "2024-01-01 00:{m:02d}:00"
    rows1 = [(i, base.format(m=i % 3), "click") for i in range(60)]
    # batch 2 advances watermark far ahead, then batch 3 delivers a late row
    rows2 = [(100, "2024-01-01 01:00:00", "click")]
    rows3 = [(101, "2024-01-01 00:00:30", "click")]  # > 1 min late by now
    schema = "event_id long, ts_s string, event_type string"
    out = tmp_path / f"late_{uuid.uuid4().hex[:8]}"
    out.mkdir()
    import shutil

    for i, rows in enumerate([rows1, rows2, rows3]):
        tmp = out / f"b{i}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_id", "ts", "event_type").coalesce(1).write.parquet(str(tmp))
        pq = sorted(tmp.glob("*.parquet"))[0]
        pq.rename(out / f"{i:02d}.parquet")
        shutil.rmtree(tmp)
    ts_type = spark.read.parquet(str(out / "00.parquet")).schema
    stream = file_replay_stream(spark, str(out), ts_type, 1)
    name = f"late_{uuid.uuid4().hex[:8]}"
    # update mode: complete mode never filters late rows (state must be
    # preserved), update honors the watermark. Finals = max per key since
    # counts only grow.
    _run_to_completion(
        windowed_counts_scaled(stream, watermark="1 minute"), name, "update"
    )
    total = spark.sql(
        f"SELECT sum(cnt) AS n FROM (SELECT event_type, window, max(cnt) AS cnt "
        f"FROM {name} GROUP BY 1, 2)"
    ).collect()[0]["n"]
    assert total == len(rows1) + len(rows2)  # late row dropped


def test_fanout_delivers_every_batch_to_every_sink(spark, events_df, replay_dir):
    """S6 replacement: foreachBatch fan-out — all rows reach all sinks."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    seen_a, seen_b = [], []
    q = fanout_foreach_batch(
        stream.select("event_id"),
        [
            lambda df, bid: seen_a.extend(r["event_id"] for r in df.collect()),
            lambda df, bid: seen_b.extend(r["event_id"] for r in df.collect()),
        ],
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()
    expected = {r["event_id"] for r in events_df.select("event_id").collect()}
    assert set(seen_a) == expected
    assert set(seen_b) == expected


def test_stream_static_enrichment(spark, sf_dir, events_df, replay_dir):
    """Stream-static join: every streamed event picks up its user's dim row."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema, 2)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = enrich_stream_static(stream, dim, "user_id")
    name = f"enr_{uuid.uuid4().hex[:8]}"
    _run_to_completion(joined, name, "append")
    got = spark.sql(
        f"SELECT count(*) AS n, count(c_mktsegment) AS matched FROM {name}"
    ).collect()[0]
    assert got["n"] == events_df.count()
    # every user_id in events exists in customer at these SFs
    assert got["matched"] == got["n"]


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Stream-stream join with dual watermarks + time-range condition."""
    schema = "event_id long, ts_s string, user_id long"
    left_rows = [(1, "2024-01-01 00:00:00", 7), (2, "2024-01-01 00:05:00", 7)]
    right_rows = [
        (10, "2024-01-01 00:00:30", 7),  # within 1 min of left #1
        (11, "2024-01-01 00:20:00", 7),  # matches nothing
    ]
    dirs = []
    for tag, rows in (("l", left_rows), ("r", right_rows)):
        d = tmp_path / f"ss_{tag}_{uuid.uuid4().hex[:6]}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_id", "ts", "user_id").coalesce(1).write.parquet(str(d))
        dirs.append(d)
    rd_schema = spark.read.parquet(str(dirs[0])).schema
    left = file_replay_stream(spark, str(dirs[0]), rd_schema, 10)
    right = file_replay_stream(spark, str(dirs[1]), rd_schema, 10)
    joined = stream_stream_join(left, right, "user_id").select(
        F.col("l.event_id").alias("l_id"), F.col("r.event_id").alias("r_id")
    )
    name = f"ss_{uuid.uuid4().hex[:8]}"
    _run_to_completion(joined, name, "append")
    pairs = {
        (r["l_id"], r["r_id"]) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert pairs == {(1, 10)}


def test_session_window_stream(spark, tmp_path):
    """session_window groups events separated by < gap into one session."""
    schema = "event_id long, ts_s string, user_id long"
    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (2, "2024-01-01 00:10:00", 1),  # same session (gap 10 min < 30)
        (3, "2024-01-01 02:00:00", 1),  # new session
        (4, "2024-01-01 00:00:00", 2),
    ]
    d = tmp_path / f"sw_{uuid.uuid4().hex[:6]}"
    spark.createDataFrame(rows, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).select("event_id", "ts", "user_id").coalesce(1).write.parquet(str(d))
    stream = file_replay_stream(spark, str(d), spark.read.parquet(str(d)).schema)
    name = f"sw_{uuid.uuid4().hex[:8]}"
    _run_to_completion(session_windows(stream), name, "complete")
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_wire_decode_matches_reference_payload(spark):
    """The reference's exact test payload (emojitest.py:12-16) decodes via
    from_json + ISO-micros parse; Z-suffix variant parses too (hard-part 3:
    no LEGACY parser policy)."""
    payloads = [
        ('{"user_id": "test_user", "emoji_type": "👍", '
         '"timestamp": "2024-11-19T12:34:56.789789"}',),
        ('{"user_id": "u2", "emoji_type": "❤️", '
         '"timestamp": "2024-11-19T12:34:56.789Z"}',),
        ('{"user_id": "u3", "emoji_type": "x"}',),  # missing field -> null ts
    ]
    raw = spark.createDataFrame(payloads, "value string")
    decoded = decode_wire_events(raw).collect()
    by_user = {r["user_id"]: r for r in decoded}
    assert by_user["test_user"]["emoji_type"] == "👍"
    assert by_user["test_user"]["ts"] is not None
    assert by_user["test_user"]["ts"].microsecond == 789789
    assert by_user["u3"]["ts"] is None


def test_sliding_rolling_equals_batch_range_frame(spark, events_df, replay_dir):
    """The sliding 3-min window's final state equals a batch 3-minute
    rolling sum evaluated at each covered minute (stream/batch parity for
    the analytics service's rolling window)."""
    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"roll_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        sliding_rolling_counts(stream, watermark="365 days"), name, "complete"
    )
    got = {
        (r["event_type"], r["window"]["end"]): r["cnt"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch twin: count per minute then 3-minute range-frame rolling sum
    from pyspark.sql import Window

    m = events_df.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp(F.col("minute").cast("timestamp")))
        .rangeBetween(-120, 0)
    )
    batch = m.select(
        "event_type",
        (F.col("minute") + F.expr("INTERVAL 1 MINUTE")).alias("window_end"),
        F.sum("cnt").over(w).alias("rolling"),
    ).collect()
    for r in batch:
        assert got[(r["event_type"], r["window_end"])] == r["rolling"]


def test_stateful_running_stats_equals_batch(spark, events_df, replay_dir):
    """applyInPandasWithState running (count, sum) per key: the last
    update-mode emission per key equals the batch groupBy — the custom
    stateful path (SURVEY §2.9 ST5) pinned to the declarative one."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
        running_key_stats,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"state_{uuid.uuid4().hex[:8]}"
    _run_to_completion(running_key_stats(stream), name, "update")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    last: dict[str, tuple] = {}
    for r in rows:  # n_events is monotone per key -> max == final state
        prev = last.get(r["key"])
        if prev is None or r["n_events"] > prev[0]:
            last[r["key"]] = (r["n_events"], r["total_value"])
        assert r["evicted"] is False
    expected = {
        r["event_type"]: (r["n"], r["total"])
        for r in events_df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
        )
        .collect()
    }
    assert set(last) == set(expected)
    for k, (n, total) in expected.items():
        assert last[k][0] == n
        assert last[k][1] == pytest.approx(total, rel=1e-9)


def _ttl_batches_dir(sess, events_df, tmp_path):
    """3 scripted micro-batches: key 'a' goes idle after batch 1 while
    'b' keeps advancing the watermark past a's last activity + ttl."""
    import datetime as _dt

    rows = events_df.limit(0)
    mk = lambda i, typ, minute: (  # noqa: E731
        i,
        _dt.datetime(2024, 1, 1, 12, minute, 0),
        1,
        typ,
        1.0,
    )
    batches = [
        [mk(1, "a", 0), mk(2, "b", 0)],
        [mk(3, "b", 30)],
        [mk(4, "b", 59)],
    ]
    flat = tmp_path / f"ttlflat_{uuid.uuid4().hex[:8]}"
    flat.mkdir()
    out = tmp_path / f"ttl_{uuid.uuid4().hex[:8]}"
    out.mkdir()
    idx = 0
    for i, batch in enumerate(batches):
        sess.createDataFrame(batch, rows.schema).coalesce(1).write.parquet(
            str(out / f"b{i}")
        )
    for sub in sorted(out.iterdir()):
        for f in sorted(sub.glob("*.parquet")):
            f.rename(flat / f"{idx:02d}.parquet")
            idx += 1
    return str(flat), rows.schema


def test_stateful_ttl_evicts_idle_keys(spark, events_df, tmp_path):
    """Event-time TTL: a key that stops sending is evicted once the
    watermark passes its last activity + ttl, emitting a final
    evicted=true row — the watermark-driven generalization of the
    reference's 3-minute deque eviction (analytical_server.py:49-52)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
        running_key_stats,
    )

    directory, schema = _ttl_batches_dir(
        events_df.sparkSession, events_df, tmp_path
    )
    stream = file_replay_stream(spark, directory, schema, 1)
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        running_key_stats(
            stream, watermark="0 seconds", ttl_ms=5 * 60 * 1000
        ),
        name,
        "update",
    )
    emitted = spark.sql(f"SELECT * FROM {name}").collect()
    evicted = [r for r in emitted if r["evicted"]]
    assert any(r["key"] == "a" for r in evicted), (
        "idle key 'a' should be evicted by the event-time TTL"
    )
    a_final = [r for r in evicted if r["key"] == "a"][0]
    assert a_final["n_events"] == 1
    # the still-active key must never be evicted: each batch re-arms it
    assert not any(r["key"] == "b" for r in evicted)


def test_checkpoint_recovery_resumes_state(spark, events_df, replay_dir, tmp_path):
    """Exactly-once recovery: a windowed aggregation killed mid-stream and
    restarted from its checkpoint resumes state (no double counting, no
    loss) — the delivery guarantee the reference's latest-offsets consumers
    give up (SURVEY §2.9 ST6)."""
    directory, schema = replay_dir
    ckpt = str(tmp_path / f"ckpt_{uuid.uuid4().hex[:8]}")
    out: dict = {}

    def capture(bdf, bid):
        for r in bdf.collect():
            out[(r["event_type"], r["window"]["start"])] = r["cnt"]

    def start():
        stream = file_replay_stream(spark, directory, schema)
        return (
            windowed_counts_scaled(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
        )

    # phase 1: process only the first two micro-batches, then kill
    q = start().trigger(processingTime="0 seconds").start()
    while len(q.recentProgress) < 2:
        import time as _t

        _t.sleep(0.2)
    q.stop()
    # phase 2: restart from the checkpoint, drain the rest
    q2 = start().trigger(availableNow=True).start()
    q2.awaitTermination()

    expected = {
        (r["event_type"], r["minute"]): r["cnt"]
        for r in events_df.groupBy(
            "event_type", F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert out == expected


def test_stream_dedup_drops_redeliveries(spark, events_df, tmp_path):
    """dropDuplicatesWithinWatermark: a stream where every micro-batch is
    delivered twice (and some rows straddle batches) collapses to the
    distinct batch rows."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        dedup_stream,
    )

    base = events_df.limit(500)
    doubled = base.union(base)  # exact re-delivery of every row
    out = tmp_path / f"dup_{uuid.uuid4().hex[:8]}"
    doubled.orderBy("ts", "event_id").coalesce(3).write.parquet(str(out))
    stream = file_replay_stream(spark, str(out), events_df.schema, 1)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        dedup_stream(stream, watermark="365 days"), name, "append"
    )
    got = spark.sql(f"SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM {name}").collect()[0]
    assert got["n"] == base.count()
    assert got["d"] == base.count()


def test_quarantine_split_catches_bad_wire_records(spark):
    """Corrupt JSON, missing fields, and unparseable timestamps land in
    quarantine; well-formed records pass — the reference's 400-reject
    semantics kept as data (api_server.py:55-56)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        split_quarantine,
    )

    payloads = [
        '{"user_id":"u1","emoji_type":"👍","timestamp":"2024-01-01T10:00:00.123456"}',
        'not json at all',
        '{"user_id":"u2","timestamp":"2024-01-01T10:00:00.123456"}',
        '{"user_id":"u3","emoji_type":"🔥","timestamp":"yesterday-ish"}',
        '{"user_id":"u4","emoji_type":"❤️","timestamp":"2024-01-01T10:00:01.000Z"}',
    ]
    raw = spark.createDataFrame([(p,) for p in payloads], "value string")
    valid, bad = split_quarantine(decode_wire_events(raw))
    ok_users = {r["user_id"] for r in valid.collect()}
    assert ok_users == {"u1", "u4"}
    assert bad.count() == 3


def test_observed_wire_metrics_surface_in_progress(spark, tmp_path):
    """observe() metrics ride the decode plan: counts of decode/parse
    failures appear in StreamingQueryProgress.observedMetrics."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        with_wire_metrics,
    )

    payloads = [
        '{"user_id":"u1","emoji_type":"👍","timestamp":"2024-01-01T10:00:00.123456"}',
        'garbage',
        '{"user_id":"u2","emoji_type":"🔥","timestamp":"not-a-time"}',
    ]
    src = tmp_path / f"obs_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(p,) for p in payloads], "value string").coalesce(
        1
    ).write.parquet(str(src))
    stream = spark.readStream.schema("value string").parquet(str(src))
    observed = with_wire_metrics(decode_wire_events(stream))
    q = (
        observed.writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = None
    for p in q.recentProgress:
        if p.get("observedMetrics", {}).get("wire_metrics"):
            metrics = p["observedMetrics"]["wire_metrics"]
    assert metrics is not None
    assert metrics["n_rows"] == 3
    assert metrics["n_decode_failures"] == 1  # 'garbage'
    assert metrics["n_ts_failures"] == 2  # garbage + bad timestamp


def test_stream_stream_left_outer_emits_unmatched(spark, events_df, tmp_path):
    """Left-outer stream-stream join: an unmatched left row is emitted
    null-padded once both watermarks pass its join window (proved no
    match can still arrive) — the reference's dashboard left-join
    semantics (analytical_server.py:451-459) on live data."""
    import datetime as dt

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        stream_stream_join,
    )

    schema = "k string, ts timestamp"
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

    def write_stream_dir(name, batches):
        d = tmp_path / name
        d.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(d / f"tmp{i}")
            )
        flat = tmp_path / f"{name}_flat"
        flat.mkdir()
        idx = 0
        for sub in sorted(d.iterdir()):
            for f in sorted(sub.glob("*.parquet")):
                f.rename(flat / f"{idx:02d}.parquet")
                idx += 1
        return str(flat)

    left_dir = write_stream_dir(
        "ssl",
        [
            [("A", t(10, 0)), ("B", t(10, 0))],  # A matches, B won't
            [("Z1", t(12, 0))],                   # watermark pusher
            [("Z2", t(12, 1))],                   # extra batch: eviction fires
        ],
    )
    right_dir = write_stream_dir(
        "ssr",
        [
            [("A", t(10, 0))],
            [("Y1", t(12, 0))],
            [("Y2", t(12, 1))],
        ],
    )
    ls = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(left_dir)
    rs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(right_dir)
    joined = stream_stream_join(
        ls, rs, "k", watermark="1 minute", max_skew="1 minute", how="leftOuter"
    ).select(F.col("l.k").alias("lk"), F.col("r.k").alias("rk"))
    name = f"sso_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT lk, rk FROM {name}").collect()
    matched = {(r["lk"], r["rk"]) for r in rows if r["rk"] is not None}
    unmatched = {r["lk"] for r in rows if r["rk"] is None}
    assert ("A", "A") in matched
    assert "B" in unmatched, f"rows={rows}"


def test_ohlc_stream_equals_batch(spark, events_df, replay_dir):
    """Streaming OHLC candles (min_by/max_by state) == batch candles over
    the same events — ordered aggregation survives micro-batch splits."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ohlc_candles,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    _run_to_completion(ohlc_candles(stream), name, "complete")
    got = {
        r["window"]["start"]: (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    expected = {
        r["minute"]: (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in events_df.groupBy(
            F.date_trunc("minute", "ts").alias("minute")
        )
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == expected


def test_ohlc_append_late_candle_correction(spark, tmp_path):
    """Append-mode OHLC with scripted lateness: a late row that arrives
    while its candle is still open (within watermark) corrects the candle
    BEFORE the single append emission; a row arriving after the watermark
    closed the candle is dropped, visibly counted in the state operator's
    numRowsDroppedByWatermark metric — the correction/loss accounting a
    production candle feed needs (the reference's Python service silently
    miscounts the same row, analytical_server.py:33-36)."""
    import shutil

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ohlc_candles,
    )

    base = "2024-01-01 00:{s}"
    batches = [
        # candle 00:00 opens: open=10 (earliest), high=30
        [(1, base.format(s="00:05"), 10.0), (2, base.format(s="00:20"), 30.0)],
        # late-but-in-watermark row lands in the still-open candle
        [(3, base.format(s="00:50"), 5.0)],
        # watermark pusher: closes candle 00:00 -> single append emission
        [(4, "2024-01-01 00:05:00", 99.0)],
        # beyond-watermark straggler for the closed candle: dropped
        [(5, base.format(s="40"), 1000.0)],
    ]
    schema = "event_id long, ts_s string, value double"
    out = tmp_path / f"ohlc_late_{uuid.uuid4().hex[:8]}"
    out.mkdir()
    for i, rows in enumerate(batches):
        tmp = out / f"b{i}"
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).select("event_id", "ts", "value").coalesce(1).write.parquet(str(tmp))
        pq = sorted(tmp.glob("*.parquet"))[0]
        pq.rename(out / f"{i:02d}.parquet")
        shutil.rmtree(tmp)
    ts_schema = spark.read.parquet(str(out / "00.parquet")).schema
    stream = file_replay_stream(spark, str(out), ts_schema, 1)
    name = f"ohlc_app_{uuid.uuid4().hex[:8]}"
    q = start_memory_sink(
        ohlc_candles(stream, watermark="1 minute"), name, output_mode="append"
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    starts = [r["window"]["start"].isoformat() for r in rows]
    # append mode: the closed candle appears exactly once — the
    # beyond-watermark straggler (row 5) must not re-open/re-emit it
    assert starts.count("2024-01-01T00:00:00") == 1
    candles = {
        r["window"]["start"].isoformat(): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"]
        )
        for r in rows
    }
    # the 00:00 candle carries the late correction (low/close=5 from row 3)
    # and excludes the beyond-watermark row 5 (value 1000 appears nowhere);
    # the drop is asserted on sink contents — the per-batch
    # numRowsDroppedByWatermark metric is not guaranteed to register when
    # the watermark advances in the same micro-batch as the straggler
    assert candles["2024-01-01T00:00:00"] == (10.0, 30.0, 5.0, 5.0, 3)
    assert all(r["high"] < 1000.0 for r in rows)


def test_rocksdb_state_store_backend(spark, events_df, replay_dir):
    """The large-keyspace scale path: the same windowed aggregation runs
    on the RocksDB state store provider (state spills to local disk
    instead of living on the JVM heap — the backend a 100 TB keyspace
    needs) and produces the identical final state. Provider is set per
    runtime conf, restored afterwards."""
    directory, schema = replay_dir
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = file_replay_stream(spark, directory, schema)
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = start_memory_sink(
            windowed_counts_scaled(stream), name, output_mode="complete"
        )
        q.processAllAvailable()
        # the running query's state operator actually uses RocksDB
        metrics = (q.lastProgress or {}).get("stateOperators", [])
        q.stop()
        got = {
            (r["event_type"], r["window"]["start"]): r["cnt"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        expected = {
            (r["event_type"], r["minute"]): r["cnt"]
            for r in events_df.groupBy(
                "event_type", F.date_trunc("minute", "ts").alias("minute")
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert got == expected
        assert metrics, "expected a state operator in progress metrics"
        custom = metrics[0].get("customMetrics", {})
        assert any("rocksdb" in k.lower() for k in custom), (
            f"state operator not on RocksDB: {sorted(custom)[:5]}"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_scoring_against_batch_moments(spark, events_df, replay_dir):
    """Model-scoring-on-a-stream shape: per-type value moments are
    computed in batch (the 'model'), broadcast onto the stream, and every
    event gets a z-score + outlier flag statelessly — the streaming twin
    of q_events_anomaly's scoring half. Flagged set must equal the batch
    computation."""
    directory, schema = replay_dir
    moments = events_df.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.when(F.col("sd") != 0, F.col("sd"))
    stream = file_replay_stream(spark, directory, schema, 2)
    scored = enrich_stream_static(
        stream, moments, "event_type"
    ).select("event_id", z.alias("z"))
    name = f"score_{uuid.uuid4().hex[:8]}"
    _run_to_completion(scored, name, "append")
    got_flagged = {
        r["event_id"]
        for r in spark.sql(
            f"SELECT event_id FROM {name} WHERE ABS(z) > 2"
        ).collect()
    }
    expected_flagged = {
        r["event_id"]
        for r in events_df.join(F.broadcast(moments), "event_type")
        .filter(F.abs(z) > 2)
        .collect()
    }
    assert got_flagged == expected_flagged
    assert spark.sql(f"SELECT COUNT(*) n FROM {name}").first()["n"] == (
        events_df.count()
    )


def test_decayed_window_counts_stream_equals_batch(spark, events_df, replay_dir):
    """The streaming decayed-mass aggregation converges to the batch
    computation of the same expression."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        decayed_window_counts,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"decay_{uuid.uuid4().hex[:8]}"
    _run_to_completion(decayed_window_counts(stream), name, "complete")
    got = {
        (r["event_type"], r["window"]["start"]): (r["cnt"], r["decayed"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        (r["event_type"], r["window"]["start"]): (r["cnt"], r["decayed"])
        for r in decayed_window_counts(events_df).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_topk_sink_matches_batch_topk(spark, events_df, replay_dir):
    """The foreachBatch top-k view over the streaming windowed counts
    converges to the batch top-k per window."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.sinks import (
        start_topk_sink,
    )
    from pyspark.sql import Window as W

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"topk_{uuid.uuid4().hex[:8]}"
    q = start_topk_sink(windowed_counts_scaled(stream), name, k=2)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["event_type"], r["window"]["start"], r["rank"])
        for r in spark.sql(f"SELECT * FROM global_temp.{name}").collect()
    }
    batch = windowed_counts_scaled(events_df)
    w = W.partitionBy("window").orderBy(F.desc("cnt"), F.asc("event_type"))
    expected = {
        (r["event_type"], r["window"]["start"], r["rank"])
        for r in batch.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .collect()
    }
    assert got == expected
    assert len(got) > 0


def test_windowed_distinct_users_stream_equals_batch(
    spark, events_df, replay_dir
):
    """HLL register-max merging is order-insensitive, so the streamed
    per-window distinct estimate is IDENTICAL to the batch run — and
    within the configured rsd of the exact per-window distinct."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        windowed_distinct_users,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"dus_{uuid.uuid4().hex[:8]}"
    _run_to_completion(windowed_distinct_users(stream), name, "complete")
    got = {
        r["window"]["start"]: r["approx_users"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    expected = {
        r["window"]["start"]: r["approx_users"]
        for r in windowed_distinct_users(events_df).collect()
    }
    assert got == expected
    assert len(got) > 0
    exact = {
        r["w"]: r["d"]
        for r in events_df.groupBy(
            F.window("ts", "1 minute").alias("win")
        )
        .agg(F.countDistinct("user_id").alias("d"))
        .select(F.col("win.start").alias("w"), "d")
        .collect()
    }
    for w, est in got.items():
        assert abs(est - exact[w]) / exact[w] <= 0.05, (w, est, exact[w])


def test_bloom_probe_stream_equals_batch(spark, sf_dir, tmp_path):
    """The stream-static Bloom probe over replayed documents converges
    to the batch q_dedup_bloom_shingles result exactly (per micro-batch
    it IS the batch plan; no cross-batch state)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table as cat_table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.corpus import (
        bloom_bits,
        q_dedup_bloom_shingles,
        shingle_rows,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        bloom_probe_stream,
    )

    docs = cat_table(spark, sf_dir, "documents").select("doc_id", "text")
    seen_bits = bloom_bits(
        shingle_rows(docs.filter(F.col("doc_id") % 2 == 0))
    ).localCheckpoint(eager=True)
    probe_docs = docs.filter(F.col("doc_id") % 2 == 1)

    # replay the probe half as a 3-file stream
    directory = str(tmp_path / "docs_replay")
    rows = probe_docs.collect()
    schema = probe_docs.schema
    per = max(1, len(rows) // 3)
    for i in range(0, len(rows), per):
        spark.createDataFrame(rows[i : i + per], schema).coalesce(1).write.mode(
            "append"
        ).parquet(directory)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )

    name = f"bloomp_{uuid.uuid4().hex[:8]}"
    q = bloom_probe_stream(stream, seen_bits, name)
    q.processAllAvailable()
    q.stop()
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_seen"], r["seen_ratio"])
        for r in spark.sql(f"SELECT * FROM global_temp.{name}").collect()
    }
    expected = {
        r["doc_id"]: (r["n_shingles"], r["n_seen"], r["seen_ratio"])
        for r in q_dedup_bloom_shingles(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_funnel_stream_chained_joins(spark, tmp_path):
    """Chained stream-stream joins complete the funnel only for users
    whose steps arrive in order within the window: user 7 completes,
    user 8 never purchases, user 9's purchase is outside the window."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        funnel_stream,
    )

    schema = "event_id long, ts_s string, user_id long, event_type string"
    rows = [
        (1, "2024-01-01 00:00:00", 7, "view"),
        (2, "2024-01-01 00:10:00", 7, "click"),
        (3, "2024-01-01 00:20:00", 7, "purchase"),
        (4, "2024-01-01 00:00:00", 8, "view"),
        (5, "2024-01-01 00:05:00", 8, "click"),
        (6, "2024-01-01 00:00:00", 9, "view"),
        (7, "2024-01-01 00:10:00", 9, "click"),
        (8, "2024-01-01 02:00:00", 9, "purchase"),  # > 30 min after click
        (9, "2024-01-01 06:00:00", 99, "view"),  # watermark pusher
        (10, "2024-01-01 06:00:00", 99, "click"),
        (11, "2024-01-01 06:00:00", 99, "purchase"),
    ]
    d = tmp_path / f"fs_{uuid.uuid4().hex[:6]}"
    spark.createDataFrame(rows, schema).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).select("event_id", "ts", "user_id", "event_type").coalesce(
        1
    ).write.parquet(str(d))
    stream = file_replay_stream(
        spark, str(d), spark.read.parquet(str(d)).schema
    )
    name = f"fs_{uuid.uuid4().hex[:8]}"
    _run_to_completion(funnel_stream(stream), name, "append")
    got = {
        (r["user_id"], r["vts"].isoformat(), r["pts"].isoformat())
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert (7, "2024-01-01T00:00:00", "2024-01-01T00:20:00") in got
    users = {u for (u, _, _) in got}
    assert 8 not in users
    assert 9 not in users


def test_stateful_checkpoint_recovery_resumes_state(
    spark, events_df, replay_dir, tmp_path
):
    """applyInPandasWithState killed mid-stream and restarted from its
    checkpoint resumes the per-key (count, sum) state — the custom-state
    twin of test_checkpoint_recovery_resumes_state (VERDICT r3 #6:
    eviction + recovery pinned for both stateful paths)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
        running_key_stats,
    )

    directory, schema = replay_dir
    ckpt = str(tmp_path / f"sckpt_{uuid.uuid4().hex[:8]}")
    last: dict = {}

    def capture(bdf, bid):
        for r in bdf.collect():
            prev = last.get(r["key"])
            if prev is None or r["n_events"] > prev[0]:
                last[r["key"]] = (r["n_events"], r["total_value"])

    def start():
        stream = file_replay_stream(spark, directory, schema)
        return (
            running_key_stats(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(capture)
        )

    q = start().trigger(processingTime="0 seconds").start()
    while len(q.recentProgress) < 2:
        import time as _t

        _t.sleep(0.2)
    q.stop()
    q2 = start().trigger(availableNow=True).start()
    q2.awaitTermination()

    expected = {
        r["event_type"]: (r["n"], r["total"])
        for r in events_df.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(last) == set(expected)
    for k, (n, total) in expected.items():
        assert last[k][0] == n, f"{k}: resumed count {last[k][0]} != {n}"
        assert last[k][1] == pytest.approx(total, rel=1e-9)


def test_new_users_per_minute_stream_equals_batch(
    spark, events_df, replay_dir
):
    """Streaming first-seen user counts equal the batch first-occurrence
    decomposition (q_running_distinct_users' first stage) on in-order
    replay — and their running sum ends at the exact distinct-user
    count."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        new_users_per_minute,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    name = f"nu_{uuid.uuid4().hex[:8]}"
    _run_to_completion(
        new_users_per_minute(stream), name, "complete"
    )
    got = {
        r["window"]["start"]: r["new_users"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        r["minute"]: r["n"]
        for r in events_df.groupBy("user_id")
        .agg(F.min(F.date_trunc("minute", "ts")).alias("minute"))
        .groupBy("minute")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch
    assert sum(got.values()) == events_df.select("user_id").distinct().count()


def test_dq_monitor_stream_matches_batch_counts(spark, events_df, tmp_path):
    """The streaming constraint monitor's per-window counts equal the
    batch q_dq_audit arithmetic applied per minute — replaying the same
    rows yields identical violation counts."""
    import uuid as _uuid

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        DQ_STREAM_TYPES,
        dq_monitor_stream,
    )

    out = tmp_path / f"dq_{_uuid.uuid4().hex[:8]}"
    events_df.orderBy("ts", "event_id").coalesce(2).write.parquet(str(out))
    stream = (
        spark.readStream.schema(events_df.schema).parquet(str(out))
    )
    name = f"dqmon_{_uuid.uuid4().hex[:8]}"
    q = (
        dq_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["n_rows"],
         r["null_user_violations"], r["domain_violations"])
        for r in spark.table(name).collect()
    }
    bad_type = ~F.col("event_type").isin(*DQ_STREAM_TYPES)
    expected = {
        (r["minute"], r["n_rows"], r["nulls"], r["bad"])
        for r in events_df.groupBy(
            F.date_trunc("minute", F.col("ts").cast("timestamp")).alias(
                "minute"
            )
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("user_id").isNull(), 1).otherwise(0)
            ).alias("nulls"),
            F.sum(F.when(bad_type, 1).otherwise(0)).alias("bad"),
        )
        .collect()
    }
    assert got == expected


def test_attribution_stream_matches_batch_on_inorder_replay(
    spark, events_df, tmp_path
):
    """The stateful last-touch attribution stream reproduces the batch
    window's per-purchase channel exactly when events replay in event-
    time order (micro-batch boundaries included: state carries the last
    touch across batches)."""
    import uuid as _uuid

    from pyspark.sql import Window

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.joins import (
        ATTR_TOUCHES,
        ATTR_WINDOW_DAYS,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
        attribution_stream,
    )

    out = tmp_path / f"attr_{_uuid.uuid4().hex[:8]}"
    # 4 ts-ordered files -> in-order micro-batches with maxFilesPerTrigger
    rows = events_df.orderBy("ts", "event_id").collect()
    chunk = len(rows) // 4 + 1
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, events_df.schema).coalesce(
                1
            ).write.parquet(str(out), mode="append")
    stream = (
        spark.readStream.schema(events_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    name = f"attr_{_uuid.uuid4().hex[:8]}"
    q = (
        attribution_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["event_id"]): r["channel"]
        for r in spark.table(name).collect()
    }

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCHES)
    batch = (
        events_df.select(
            "user_id",
            "event_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.last(
                F.when(is_touch, F.col("ts").cast("timestamp")),
                ignorenulls=True,
            )
            .over(w)
            .alias("lt_ts"),
            F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
            .over(w)
            .alias("lt_type"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.when(
                F.col("lt_ts").isNotNull()
                & (
                    F.col("lt_ts")
                    >= F.col("ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAY")
                ),
                F.col("lt_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
        )
    )
    expected = {
        (r["user_id"], r["event_id"]): r["channel"] for r in batch.collect()
    }
    assert got == expected


def test_ts_similarity_stream_matches_batch_moments(
    spark, events_df, replay_dir
):
    """Incrementally-merged cells give the SAME correlation table as a
    one-shot batch over the full prefix: count partials are exact and
    re-aggregable, so after the last micro-batch every moment — and
    therefore every rounded corr — is bit-equal to batch."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ts_similarity_stream,
    )

    directory, schema = replay_dir
    stream = file_replay_stream(spark, directory, schema)
    # the fixture is a 2-hour slice; use its most active user as the
    # query series so the test is non-degenerate
    quser = (
        events_df.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), F.asc("user_id"))
        .first()
        .user_id
    )
    name = f"tssim_{uuid.uuid4().hex[:8]}"
    q = ts_similarity_stream(stream, query_user=quser, name=name)
    q.processAllAvailable()
    q.stop()
    got = {
        r.user_id: r.corr
        for r in spark.sql(f"SELECT * FROM global_temp.{name}").collect()
    }

    cells = events_df.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("cnt"))
    n = cells.select("hour").distinct().count()
    qcells = {
        r.hour: r.cnt
        for r in cells.filter(F.col("user_id") == quser).collect()
    }
    qsx = sum(qcells.values())
    qsx2 = sum(v * v for v in qcells.values())
    expected = {}
    stats = {}
    for r in cells.collect():
        s = stats.setdefault(r.user_id, [0, 0, 0])  # sx, sx2, sxy
        s[0] += r.cnt
        s[1] += r.cnt * r.cnt
        s[2] += r.cnt * qcells.get(r.hour, 0)
    for user, (sx, sx2, sxy) in stats.items():
        if user == quser:
            continue
        var_x = n * sx2 - sx * sx
        var_q = n * qsx2 - qsx * qsx
        if var_x > 0 and var_q > 0:
            expected[user] = round(
                (n * sxy - sx * qsx) / (var_x * var_q) ** 0.5, 6
            )
    assert got == expected
    assert expected  # non-degenerate: some users scored


def test_ts_similarity_stream_restart_resets_cells(
    spark, events_df, replay_dir
):
    """Restarting a similarity stream under the SAME view name must NOT
    merge the previous run's cells (batch 0 drops the stale view) — a
    second identical replay yields the identical correlation table, not
    a double-counted one."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        ts_similarity_stream,
    )

    directory, schema = replay_dir
    name = f"tssim_rs_{uuid.uuid4().hex[:8]}"
    quser = (
        events_df.groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), F.asc("user_id"))
        .first()
        .user_id
    )

    def run_once():
        stream = file_replay_stream(spark, directory, schema)
        q = ts_similarity_stream(stream, query_user=quser, name=name)
        q.processAllAvailable()
        q.stop()
        return {
            r.user_id: r.corr
            for r in spark.sql(
                f"SELECT * FROM global_temp.{name}"
            ).collect()
        }

    first = run_once()
    second = run_once()
    assert first  # non-degenerate
    assert second == first


def test_bitmap_distinct_stream_equals_batch(spark, events_df, replay_dir):
    """Incrementally OR-merged bitmap words give the SAME exact
    per-type distinct counts as the batch operator on the full prefix,
    and a same-name restart resets rather than double-merges."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
        bitmap_distinct_stream,
    )

    name = f"bmd_{uuid.uuid4().hex[:8]}"
    directory, schema = replay_dir

    def run_once():
        stream = file_replay_stream(spark, directory, schema)
        q = bitmap_distinct_stream(stream, name=name)
        q.processAllAvailable()
        q.stop()
        return {
            r.event_type: (r.distinct_users, r.bitmap_words)
            for r in spark.sql(
                f"SELECT * FROM global_temp.{name}"
            ).collect()
        }

    got = run_once()
    expected = {
        r.event_type: (r.d, r.w)
        for r in events_df.groupBy("event_type", F.expr("user_id div 63"))
        .agg(F.count_distinct("user_id").alias("du"))
        .groupBy("event_type")
        .agg(
            F.sum("du").cast("bigint").alias("d"),
            F.count("*").cast("bigint").alias("w"),
        )
        .collect()
    }
    assert got == expected
    assert got  # non-degenerate
    assert run_once() == got  # restart resets, not double-merges


def test_growth_flows_stream_equals_batch_classification(
    spark, sf_dir, tmp_path
):
    """In-order multi-day replay: the stateful streaming classifier
    emits exactly the batch growth-accounting flows (churn excluded —
    the documented streaming divergence: absence needs a timer)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.stateful import (
        growth_flows_stream,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # multi-day replay (the shared 2-hour fixture is single-day —
    # degenerate for day-grain flows): all events, 4 ts-ordered chunks
    directory = tmp_path / f"growth_replay_{uuid.uuid4().hex[:8]}"
    rows = ev.orderBy("ts", "event_id").collect()
    chunk = len(rows) // 4 + 1
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                str(directory / f"p{i:02d}")
            )
    flat = tmp_path / f"growth_flat_{uuid.uuid4().hex[:8]}"
    flat.mkdir()
    n = 0
    for sub in sorted(directory.iterdir()):
        for f in sorted(sub.glob("*.parquet")):
            f.rename(flat / f"{n:02d}.parquet")
            n += 1

    stream = file_replay_stream(spark, str(flat), ev.schema)
    name = f"growth_{uuid.uuid4().hex[:8]}"
    q = (
        growth_flows_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.day_num, r.flow)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    from pyspark.sql import Window as W

    cells = ev.select(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("day", F.col("ts")).cast("timestamp"))
            / 86400
        )
        .cast("long")
        .alias("day_num"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_num")
    flow = (
        F.when(F.lag("day_num").over(w).isNull(), F.lit("new"))
        .when(
            F.col("day_num") - F.lag("day_num").over(w) == 1,
            F.lit("retained"),
        )
        .otherwise(F.lit("resurrected"))
    )
    expected = {
        (r.user_id, r.day_num, r.flow)
        for r in cells.select("user_id", "day_num", flow.alias("flow"))
        .collect()
    }
    assert got == expected
    assert len({f for (_, _, f) in got}) == 3  # all three flows occur
