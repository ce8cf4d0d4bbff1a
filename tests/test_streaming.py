"""Streaming operator tests: batch semantics on tiny fixtures plus a
real Structured Streaming run (parquet readStream → memory sink) that
must agree with the batch plan on the same data."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from networkframe_spark.streaming.ops import (
    session_stats,
    session_window_stats,
    sessionize,
    windowed_event_counts,
)
from networkframe_spark.streaming.stream import (
    stream_events_windowed,
    stream_session_windows,
    user_running_totals,
)


def _ts(minute, hour=12):
    return dt.datetime(2026, 1, 1, hour, minute, tzinfo=dt.timezone.utc)


@pytest.fixture()
def events(spark):
    rows = [
        # user 1: two sessions split by a 40-minute gap
        (1, 1, _ts(0), "click", 1.0),
        (2, 1, _ts(10), "click", 2.0),
        (3, 1, _ts(50), "view", 3.0),
        # user 2: one session crossing the hour boundary
        (4, 2, _ts(55), "click", 4.0),
        (5, 2, _ts(5, hour=13), "click", 5.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )


def test_windowed_counts(events):
    out = {
        (r["event_type"], r["window_start"].hour): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events, "1 hour").collect()
    }
    assert out[("click", 12)] == (3, 7.0)
    assert out[("view", 12)] == (1, 3.0)
    assert out[("click", 13)] == (1, 5.0)


def test_sessionize_gap(events):
    s = sessionize(events, gap_minutes=30)
    sid = {r["event_id"]: r["session_id"] for r in s.collect()}
    assert sid[1] == sid[2] == 1  # 10-min gap, same session
    assert sid[3] == 2  # 40-min gap starts session 2
    assert sid[4] == sid[5] == 1  # 10-min gap across the hour boundary


def test_session_stats(events):
    stats = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_s"], r["sum_value"])
        for r in session_stats(events, gap_minutes=30).collect()
    }
    assert stats[(1, 1)] == (2, 600, 3.0)
    assert stats[(1, 2)] == (1, 0, 3.0)
    assert stats[(2, 1)] == (2, 600, 9.0)


def test_session_window_matches_sessionize(events):
    """Native session_window must induce the same sessions as the
    lag/cumsum formulation: same (count, sum) multiset per user and
    session_start = min ts of each sessionize group."""
    native = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in session_window_stats(events, gap="30 minutes").collect()
    }
    derived = sessionize(events, gap_minutes=30)
    grouped = (
        derived.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in grouped
    }
    assert native == want


def test_readstream_matches_batch(spark, events, tmp_path):
    """The streaming plan over the same rows must reproduce the batch
    aggregate (complete output mode, memory sink)."""
    src = str(tmp_path / "events_src")
    events.repartition(3).write.parquet(src)
    q = stream_events_windowed(
        spark, src, schema=events.schema, window_duration="1 hour",
        query_name="t_events_windowed",
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_type"], r["window_start"].hour): (r["n_events"], r["sum_value"])
            for r in spark.table("t_events_windowed").collect()
        }
    finally:
        q.stop()
    want = {
        (r["event_type"], r["window_start"].hour): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events, "1 hour").collect()
    }
    assert got == want


def test_stream_edge_condense_matches_batch(spark, events, tmp_path):
    """Streaming graph ingestion (events-as-edges) emits the same
    quotient graph per window as the batch twin."""
    from networkframe_spark.streaming.ops import windowed_edge_condense
    from networkframe_spark.streaming.stream import stream_edge_condense

    src = str(tmp_path / "events_edge_src")
    events.repartition(3).write.parquet(src)
    q = stream_edge_condense(
        spark, src, schema=events.schema, window_duration="1 hour",
        cohorts=2, query_name="t_edge_condense",
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["source_group"], r["target_group"]): (
                r["n_edges"],
                r["sum_weight"],
            )
            for r in spark.table("t_edge_condense").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window_start"], r["source_group"], r["target_group"]): (
            r["n_edges"],
            r["sum_weight"],
        )
        for r in windowed_edge_condense(
            events, "1 hour", cohorts=2
        ).collect()
    }
    assert got == want and len(want) > 1


def test_windowed_edge_condense_is_frame_condense(spark, events):
    """For one window's events, the batch twin's rows ARE
    NetworkFrame.condense of the events-as-edges graph (node groups =
    user cohort / event type) — the composition the operator fuses."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.streaming.ops import windowed_edge_condense

    one_hour = events.filter(F.hour("ts") == 12)
    # build the explicit bipartite frame: user nodes grouped by
    # user_id % 2, type nodes grouped by themselves
    users = one_hour.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("id"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("string").alias("grp"),
    ).distinct()
    types = one_hour.select(
        F.col("event_type").alias("id"), F.col("event_type").alias("grp")
    ).distinct()
    edges = one_hour.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("source"),
        F.col("event_type").alias("target"),
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    nf = NetworkFrame(users.union(types), edges)
    condensed = {
        (r["source"], r["target"]): float(r["weight"])
        for r in nf.condense("grp", func="sum", columns=["value"])
        .edges.collect()
    }
    twin = {
        (str(r["source_group"]), r["target_group"]): r["sum_weight"]
        for r in windowed_edge_condense(one_hour, "1 hour", cohorts=2)
        .collect()
    }
    assert condensed == twin and len(twin) >= 2


def test_stream_session_windows_matches_batch(spark, events, tmp_path):
    """Streaming session_window (watermarked, append mode) must close
    the same sessions the batch plan computes once all data is in and
    the final watermark has passed."""
    src = str(tmp_path / "events_sess_src")
    # two files -> two micro-batches; 0-second watermark closes all
    # sessions once the max event time advances past them
    events.repartition(2).write.parquet(src)
    q = stream_session_windows(
        spark, src, schema=events.schema, gap="30 minutes",
        watermark="0 seconds", query_name="t_session_windows",
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
            for r in spark.table("t_session_windows").collect()
        }
    finally:
        q.stop()
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in session_window_stats(events, gap="30 minutes").collect()
    }
    # append mode only emits sessions the watermark has passed; the
    # last session per user may still be open in the state store
    assert set(got).issubset(set(want))
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= 1


def test_stateful_running_totals(spark, events, tmp_path):
    """applyInPandasWithState accumulates per-key state across
    micro-batches; the final per-user update must equal the batch
    totals."""
    src = str(tmp_path / "events_state_src")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .load(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_running_totals")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("t_running_totals").collect()
    finally:
        q.stop()
    # last update per user (max n_events) == batch aggregate
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == want


def test_sliding_window_membership(events):
    """Every event lands in exactly windowDuration/slide sliding windows."""
    win = events.groupBy(
        F.window("ts", "1 hour", "30 minutes")["start"].alias("ws")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = sum(r["n"] for r in win.collect())
    assert total == 2 * events.count()


def test_asof_join(spark):
    import datetime as dt

    from networkframe_spark.functions.temporal import asof_join

    def ts(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(30), "b"), (2, ts(5), "c")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(20), 200.0), (2, ts(50), 300.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["tag"]: (r["value_right"], r["ts_right"])
        for r in asof_join(left, right, on="user_id", right_cols=["value"]).collect()
    }
    naive = lambda d: d.replace(tzinfo=None)  # noqa: E731 — collect() returns naive UTC
    assert out["a"] == (100.0, naive(ts(10)))  # inclusive: equal ts matches
    assert out["b"] == (200.0, naive(ts(20)))  # latest preceding
    assert out["c"] == (None, None)  # nothing precedes
    # tolerance: b's match is 10 min old -> dropped at 300 s tolerance
    out_tol = {
        r["tag"]: r["value_right"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["value"], tolerance_seconds=300
        ).collect()
    }
    assert out_tol["a"] == 100.0 and out_tol["b"] is None


def test_asof_join_forward_and_nearest(spark):
    """Forward takes the earliest right at-or-after; nearest picks the
    closer side with exact ties preferring backward; tolerance bounds
    |dt| in both directions."""
    import datetime as dt

    from networkframe_spark.functions.temporal import asof_join

    def ts(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(30), "b"), (2, ts(5), "c"), (3, ts(7), "d")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, ts(10), 100.0),   # equal ts for 'a'
            (1, ts(25), 200.0),   # 5 min before 'b'
            (1, ts(35), 250.0),   # 5 min after 'b' -> exact tie
            (2, ts(50), 300.0),   # only AFTER 'c'
        ],
        "user_id long, ts timestamp, value double",
    )
    fwd = {
        r["tag"]: r["value_right"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["value"],
            direction="forward",
        ).collect()
    }
    assert fwd["a"] == 100.0  # inclusive equal ts
    assert fwd["b"] == 250.0  # earliest following
    assert fwd["c"] == 300.0  # forward finds what backward cannot
    assert fwd["d"] is None  # no right rows for key 3
    near = {
        r["tag"]: r["value_right"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["value"],
            direction="nearest",
        ).collect()
    }
    assert near["a"] == 100.0
    assert near["b"] == 200.0  # exact 5-min tie -> backward wins
    assert near["c"] == 300.0  # only forward exists
    near_tol = {
        r["tag"]: r["value_right"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["value"],
            direction="nearest", tolerance_seconds=60,
        ).collect()
    }
    assert near_tol["a"] == 100.0 and near_tol["b"] is None
    assert near_tol["c"] is None  # 45 min away > 60 s


def test_range_join(spark):
    import datetime as dt

    from networkframe_spark.functions.temporal import range_join

    def ts(m):
        return dt.datetime(2026, 1, 1, 12, m, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, ts(10), 1)], "user_id long, ts timestamp, click_id long"
    )
    right = spark.createDataFrame(
        [(1, ts(12), 10), (1, ts(9), 11), (1, ts(40), 12), (2, ts(11), 13)],
        "user_id long, ts timestamp, err_id long",
    )
    got = {
        r["err_id_right"]
        for r in range_join(left, right, on="user_id", window_seconds=600).collect()
    }
    assert got == {10}  # within 10 min after; not before, not later, not other user


def test_stream_range_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join must produce the same
    pairs as the batch range_join on the same rows."""
    from networkframe_spark.functions.temporal import range_join
    from networkframe_spark.streaming.stream import stream_range_join

    rows = [
        (1, 1, _ts(0), "click", 1.0),
        (2, 1, _ts(5), "error", 0.0),   # within 10 min of click 1
        (3, 1, _ts(20), "error", 0.0),  # outside
        (4, 2, _ts(30), "click", 1.0),
        (5, 2, _ts(31), "error", 0.0),  # within
        (6, 3, _ts(40), "error", 0.0),  # no click for user 3
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    src = str(tmp_path / "events_ssj_src")
    events.repartition(2).write.parquet(src)
    q = stream_range_join(
        spark, src, schema=events.schema, window_seconds=600,
        query_name="t_ssj",
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["l_id"], r["r_id"])
            for r in spark.table("t_ssj").collect()
        }
    finally:
        q.stop()
    clicks = events.filter("event_type='click'").select(
        "user_id", "ts", F.col("event_id").alias("l_id")
    )
    errors = events.filter("event_type='error'").select(
        "user_id", "ts", F.col("event_id").alias("r_id")
    )
    want = {
        (r["user_id"], r["l_id"], r["r_id_right"])
        for r in range_join(clicks, errors, on="user_id", window_seconds=600).collect()
    }
    assert got == want and got == {(1, 1, 2), (2, 4, 5)}


def test_stream_sequence_builder_matches_batch(spark, events, tmp_path):
    """The final per-user update of the stateful sequence builder must
    equal the batch user_event_sequences trail, even though events
    arrive across multiple unordered micro-batches."""
    from networkframe_spark.streaming.ops import user_event_sequences
    from networkframe_spark.streaming.stream import user_sequence_builder

    src = str(tmp_path / "events_seq_src")
    events.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = (
        user_sequence_builder(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_seq_builder")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("t_seq_builder").collect()
    finally:
        q.stop()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sequence"])
    want = {
        r["user_id"]: (r["n_events"], r["sequence"])
        for r in user_event_sequences(events).collect()
    }
    assert final == want


def test_stream_deduplicate_matches_batch(spark, events, tmp_path):
    """Streaming dropDuplicatesWithinWatermark over the fixture (all
    events inside one watermark horizon) must keep exactly one row per
    (user_id, event_type) — the batch event_dedup result."""
    from networkframe_spark.streaming.stream import stream_deduplicate

    # duplicate every event so the stream really has something to drop
    dup = events.unionAll(events)
    src = str(tmp_path / "events_dedup_src")
    dup.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = (
        stream_deduplicate(stream, keys=["user_id", "event_type"], watermark="24 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["event_type"])
            for r in spark.table("t_stream_dedup").collect()
        }
        n_got = spark.table("t_stream_dedup").count()
    finally:
        q.stop()
    want = {
        (r["user_id"], r["event_type"])
        for r in events.select("user_id", "event_type").distinct().collect()
    }
    assert got == want
    assert n_got == len(want)  # duplicates actually dropped


def test_stream_unique_users_bounds(spark, tmp_path):
    """Streaming HLL distinct-user counts per window must land within
    the sketch's error bound of the exact batch answer."""
    from networkframe_spark.sources import read_events
    from networkframe_spark.streaming.stream import stream_unique_users

    ev = read_events(spark, "/root/testdata/sf0.001").limit(3000)
    src = str(tmp_path / "uu_src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .load(src)
    )
    q = (
        stream_unique_users(stream, window_duration="1 day", watermark="3650 days")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_uu")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["window_start"]: r["approx_users"] for r in spark.table("t_uu").collect()}
    finally:
        q.stop()
    exact = {
        r["window_start"]: r["n"]
        for r in ev.groupBy(F.window("ts", "1 day")["start"].alias("window_start"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for w, n in exact.items():
        assert abs(got[w] - n) <= max(3, 0.15 * n), (w, got[w], n)


def test_stream_to_parquet_durable_sink(spark, tmp_path):
    """readStream -> dedup -> parquet sink: rows land in the table,
    reread through the normal batch scan, and a RESTARTED query does
    not duplicate them (checkpointed exactly-once file commits)."""
    from networkframe_spark.sources import read_events
    from networkframe_spark.streaming.stream import (
        stream_deduplicate,
        stream_to_parquet,
    )

    ev = read_events(spark, "/root/testdata/sf0.001").limit(400)
    src = str(tmp_path / "src")
    ev.repartition(2).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.format("parquet")
            .schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        deduped = stream_deduplicate(
            stream, keys=["event_id"], watermark="3650 days",
            within_watermark=False,
        )
        return stream_to_parquet(deduped, out, ckpt, query_name="t_sink")

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n1 = spark.read.parquet(out).count()
    assert n1 == ev.select("event_id").distinct().count()
    # restart against the same checkpoint: no new data, no duplicates
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == n1


def test_text_pipeline_ops_are_stream_composable(spark, tmp_path):
    """The round-6 map-side text operators (gopher_rules, clean_text,
    weighted_sample) must compose with readStream unchanged — they are
    pure per-row expressions, so the same call works on a streaming
    DataFrame and produces identical rows (append mode, memory sink)."""
    from networkframe_spark.functions.pipeline import weighted_sample
    from networkframe_spark.functions.text import clean_text, gopher_rules

    curly = "\u201csymbols\u201d"
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog have been to town with all of that " * 3),
            (2, "###  broken " + curly + " ##"),
            (3, "plain short text"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    def pipe(df):
        # probability column doc_id clamps to 1: every row kept, which
        # proves the filter composes; real use passes a score in [0,1]
        return weighted_sample(
            clean_text(gopher_rules(df, min_words=5)), "doc_id", seed=3
        )

    q = (
        pipe(stream)
        .writeStream.format("memory")
        .queryName("t_text_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r for r in spark.table("t_text_stream").collect()}
    finally:
        q.stop()
    want = {r["doc_id"]: r for r in pipe(docs).collect()}
    assert set(got) == set(want) == {1, 2, 3}
    for k in want:
        assert got[k]["gopher_pass"] == want[k]["gopher_pass"]
        assert got[k]["text"] == want[k]["text"]
        assert got[k]["n_chars_removed"] == want[k]["n_chars_removed"]


def test_stream_resample_matches_batch(spark, tmp_path):
    """resample_events is a plain groupBy aggregate (struct min/max +
    decimal sum), so the SAME call runs as a stateful streaming
    aggregation — complete-mode memory sink equals the batch result."""
    from networkframe_spark.functions.temporal import resample_events

    rows = [
        (1, i, f"2024-01-01 0{i % 3}:{10 + i:02d}:00", float(i * 7 % 13))
        for i in range(1, 9)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).selectExpr("user_id", "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        resample_events(stream, minutes=60)
        .writeStream.format("memory")
        .queryName("t_resample_stream")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(tuple, spark.table("t_resample_stream").collect())
        )
    finally:
        q.stop()
    want = sorted(map(tuple, resample_events(ev, minutes=60).collect()))
    assert got == want and len(want) >= 3


def test_stream_map_only_session3_ops(spark, tmp_path):
    """extract_json and script_profile are pure map-side expressions,
    so the SAME calls run unchanged on a readStream — append-mode
    memory sink equals the batch result row-for-row."""
    from networkframe_spark.functions.pipeline import extract_json
    from networkframe_spark.functions.text import script_profile

    docs = spark.createDataFrame(
        [
            (1, "hello world", '{"k": 3}'),
            (2, "пример 漢字", '{"k": 9}'),
            (3, "", "broken"),
        ],
        "doc_id long, text string, props string",
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = script_profile(
        extract_json(stream, "props", {"k": "int"}), text_col="text"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_map_only_s3")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.table("t_map_only_s3").collect()))
    finally:
        q.stop()
    want = sorted(
        map(
            tuple,
            script_profile(
                extract_json(docs, "props", {"k": "int"}), text_col="text"
            ).collect(),
        )
    )
    assert got == want and len(want) == 3


def test_stream_upsert_parquet_latest_wins(spark, tmp_path):
    """Two micro-batches with overlapping keys: the parquet table
    ends with exactly one latest row per key; a later batch with an
    older timestamp does not regress the value."""
    import time as _time

    from networkframe_spark.streaming.stream import stream_upsert_parquet

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ts timestamp, v double"

    def batch(rows, name):
        spark.createDataFrame(rows, "k long, ts string, v double").selectExpr(
            "k", "CAST(ts AS TIMESTAMP) AS ts", "v"
        ).write.mode("append").parquet(src)

    batch([(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-01 00:00:00", 2.0)], "b1")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_upsert_parquet(stream, target, ckpt, key_col="k", ts_col="ts")
    try:
        q.processAllAvailable()
        first = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
        assert first == {1: 1.0, 2: 2.0}
        # batch 2: newer row for key 2, stale row for key 1, new key 3
        batch(
            [
                (2, "2024-01-02 00:00:00", 22.0),
                (1, "2023-12-01 00:00:00", 0.5),
                (3, "2024-01-01 00:00:00", 3.0),
            ],
            "b2",
        )
        q.processAllAvailable()
        final = {r["k"]: r["v"] for r in spark.read.parquet(target).collect()}
        assert final == {1: 1.0, 2: 22.0, 3: 3.0}
        assert spark.read.parquet(target).count() == 3
    finally:
        q.stop()


def test_stream_anomaly_zscore_matches_batch(spark, tmp_path):
    """Chronologically-fed stream produces bit-identical trailing
    z-scores to the batch op — including NULL-value rows occupying
    window slots and a planted spike flagged in both."""
    import time as _time

    from networkframe_spark.functions.temporal import anomaly_zscore
    from networkframe_spark.streaming.stream import stream_anomaly_zscore

    rows = []
    eid = 0
    for step in range(14):
        for uid in (1, 2):
            eid += 1
            if uid == 1 and step == 9:
                v = 500.0  # planted spike
            elif uid == 2 and step == 6:
                v = None  # NULL occupies a window slot
            else:
                v = float(10 + step + uid) + 0.123456
            rows.append((eid, uid, _ts(step * 4), "view", v))
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp,"
        " event_type string, value double",
    )
    src = str(tmp_path / "events_anom_src")
    # three chronological thirds, written sequentially so the file
    # source replays them in event-time order
    parts = [rows[:10], rows[10:20], rows[20:]]
    for p in parts:
        spark.createDataFrame(p, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
    stream = (
        spark.readStream.format("parquet")
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = (
        stream_anomaly_zscore(stream, n_rows=5, threshold=3.0, min_periods=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_anom")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_id"]: (
                r["user_id"], r["value"], r["n_window"], r["z"],
                r["is_anomaly"],
            )
            for r in spark.table("t_stream_anom").collect()
        }
    finally:
        q.stop()
    want = {
        r["event_id"]: (
            r["user_id"], r["value"], r["n_window"], r["z"],
            r["is_anomaly"],
        )
        for r in anomaly_zscore(
            ev, n_rows=5, threshold=3.0, min_periods=3
        ).collect()
    }
    assert got == want
    assert any(v[4] for v in got.values())  # the spike was flagged


def test_asof_nearest_decides_on_microseconds(spark):
    """Regression (round-8 advice): nearest/tolerance compared on
    whole-second-truncated epochs, so sub-second deltas were decided
    on the wrong values — backward 0.3 s away truncated to 1 s while
    forward 0.8 s away truncated to 0 s, picking the strictly farther
    match.  Comparisons now run on microsecond epochs."""
    import datetime as dt

    from networkframe_spark.functions.temporal import asof_join

    def ts(s, us=0):
        return dt.datetime(2026, 1, 1, 12, 0, s, us, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, ts(10), "a")], "user_id long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, ts(9, 700_000), 1.0),   # 0.3 s BEFORE — the true nearest
            (1, ts(10, 800_000), 2.0),  # 0.8 s after
        ],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, on="user_id", right_cols=["value"], direction="nearest"
    ).collect()
    assert out[0]["value_right"] == 1.0
    # tolerance is a microsecond bound too: 0.25 s excludes both sides
    out = asof_join(
        left, right, on="user_id", right_cols=["value"],
        direction="nearest", tolerance_seconds=0,
    ).collect()
    assert out[0]["value_right"] is None


def test_range_join_band_is_microsecond_exact(spark):
    """Regression (round-8): the band predicate truncated to whole
    seconds, admitting a right event that happened BEFORE the left
    one within the same second, and events up to window+0.999 s out.
    The band is now exact to the microsecond."""
    import datetime as dt

    from networkframe_spark.functions.temporal import range_join

    def ts(s, us=0):
        return dt.datetime(2026, 1, 1, 12, 0, s, us, tzinfo=dt.timezone.utc)

    left = spark.createDataFrame(
        [(1, ts(10, 900_000), 100)], "user_id long, ts timestamp, click_id long"
    )
    right = spark.createDataFrame(
        [
            (1, ts(10, 100_000), 200),      # same second but BEFORE left
            (1, ts(11, 0), 201),            # 0.1 s after — in window
            (1, ts(20, 950_000), 202),      # 10.05 s after — out (window 10 s)
        ],
        "user_id long, ts timestamp, error_id long",
    )
    got = sorted(
        r["error_id_right"]
        for r in range_join(
            left, right, on="user_id", window_seconds=10
        ).collect()
    )
    assert got == [201]


def test_stream_neardup_matches_batch(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: three micro-batches of docs
    (near-dup pairs within AND across batches) converge to exactly
    the batch minhash_lsh_duplicates pairs — same ids, same exact
    jaccard — and a replayed doc id changes nothing."""
    from networkframe_spark.functions.dedup import minhash_lsh_duplicates
    from networkframe_spark.streaming.stream import stream_neardup_parquet

    base = "the quick brown fox jumps over the lazy dog again and again"
    b2 = (
        "completely different words about spark catalyst tungsten"
        " engine optimizer"
    )
    docs = [
        (1, base),
        (2, base + " " + base),  # near-dup of 1 (j=0.83)
        (3, b2),
        (4, base),               # exact dup of 1, later batch
        (5, b2 + " plans"),      # near-dup of 3 (j=0.875)
        (6, "unrelated text mentioning nothing shared with others here"),
        (7, b2),                 # exact dup of 3, last batch
    ]
    slices = [docs[:2], docs[2:4], docs[4:]]
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "neardup")
    ckpt = str(tmp_path / "neardup_ckpt")
    schema = "doc_id long, text string"
    params = dict(n_perm=4, n_bands=2, shingle_n=3, threshold=0.3)

    import pathlib

    for i, sl in enumerate(slices):
        spark.createDataFrame(sl, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = stream_neardup_parquet(stream, out, ckpt, **params)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in spark.read.parquet(out + "/pairs").collect()
    }
    full = spark.createDataFrame(docs, schema)
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_duplicates(
            full, n_perm=4, bands=2, shingle_n=3, threshold=0.3
        ).collect()
    }
    # non-trivial fixture: within-batch, cross-batch, exact and
    # fuzzy pairs all present
    assert got == want and len(want) == 6
    # replay: redeliver batch 1 — anti-joins absorb it completely
    spark.createDataFrame(docs[:2], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q2 = stream_neardup_parquet(stream2, out, str(tmp_path / "ck2"), **params)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in spark.read.parquet(out + "/pairs").collect()
    }
    assert again == want


def test_asof_join_fractional_tolerance(spark):
    """Sub-second tolerances are honored at microsecond precision
    (a 0.5 s tolerance must not truncate to 0)."""
    import datetime as dt

    from networkframe_spark.functions.temporal import asof_join

    base = dt.datetime(2026, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    left = spark.createDataFrame(
        [(1, base + dt.timedelta(milliseconds=400), "near"),
         (2, base + dt.timedelta(milliseconds=600), "far")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, base, 1.0), (2, base, 2.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["tag"]: r["value_right"]
        for r in asof_join(
            left, right, on="user_id", right_cols=["value"],
            tolerance_seconds=0.5,
        ).collect()
    }
    assert out["near"] == 1.0  # 400 ms <= 500 ms tolerance
    assert out["far"] is None  # 600 ms > 500 ms tolerance


@pytest.mark.parametrize("family", ["ivf", "ivf_sq", "ivfpq", "lsh", "minhash"])
def test_index_add_retry_idempotent(spark, tmp_path, family):
    """Restart semantics for incremental index maintenance, for every
    family whose add runs the shared append-once guard: an add
    replayed after a (simulated) crash converges — re-appending the
    same batch inserts zero rows and search results are unchanged,
    the same at-least-once contract stream_upsert_parquet proves for
    its table."""
    import networkframe_spark.functions.dedup as dd
    import networkframe_spark.functions.similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    if family == "minhash":
        # the documents table of the same fixture directory
        docs_path = emb.inputFiles()[0].replace("embeddings", "documents")
        corpus = spark.read.parquet(docs_path).filter("doc_id < 120")
        rid, sub, copies = "doc_id", "mbands", 2  # one row per band

        def build(df, p):
            dd.build_minhash_index(df, p, n_perm=8, bands=2, n_kmod=8)

        add = dd.minhash_index_add
        search = lambda p: dd.minhash_index_duplicates(
            spark, p, threshold=0.25
        )
    else:
        corpus = emb.filter("vec_id < 120")
        rid, sub, copies = "vec_id", "cells", 1
        qs = corpus.filter("vec_id < 5")
        if family == "ivf":
            build = lambda df, p: sim.build_ivf_index(df, p, n_lists=4, n_iter=1)
            add = sim.ivf_index_add
            search = lambda p: sim.ivf_index_search(spark, p, qs, k=4)
        elif family == "ivf_sq":
            build = lambda df, p: sim.build_ivf_sq_index(
                df, p, n_lists=4, n_iter=1
            )
            add = sim.ivf_sq_index_add
            search = lambda p: sim.ivf_sq_search(spark, p, qs, k=4)
        elif family == "ivfpq":
            sub = "codes"
            build = lambda df, p: sim.build_ivfpq_index(
                df, p, n_lists=4, m=4, k_codes=8, n_iter=1
            )
            add = sim.ivfpq_index_add
            search = lambda p: sim.ivfpq_search(
                spark, p, qs, k=4, query_id_col="vec_id"
            )
        else:
            sub, copies = "bands", 2  # one row per table
            build = lambda df, p: sim.build_lsh_index(
                df, p, n_planes=4, n_tables=2
            )
            add = sim.lsh_index_add
            search = lambda p: sim.lsh_index_search(
                spark, p, qs, k=4, n_probe_bits=1
            )

    base = corpus.filter(f"{rid} % 3 = 0")
    delta = corpus.filter(f"{rid} % 3 = 1")
    path = str(tmp_path / "idx")
    build(base, path)
    n_rows = lambda: spark.read.parquet(f"{path}/{sub}").count()

    add(spark, path, delta)
    n_after_first = n_rows()
    assert n_after_first == copies * (base.count() + delta.count())
    first = sorted(map(tuple, search(path).collect()))

    # full retry of the committed batch: a no-op
    add(spark, path, delta)
    assert n_rows() == n_after_first
    assert sorted(map(tuple, search(path).collect())) == first

    # partial-commit retry: half the batch already present (as if the
    # append died between partition directories) — the replay tops the
    # index up to exactly-once content
    delta2 = corpus.filter(f"{rid} % 3 = 2")
    add(spark, path, delta2.filter(f"{rid} % 2 = 0"))
    add(spark, path, delta2)  # replay of the "full" batch
    stored = spark.read.parquet(f"{path}/{sub}")
    assert stored.count() == copies * corpus.count()
    assert stored.select(rid).distinct().count() == corpus.count()


def test_stream_index_add_lsh_equals_rebuild(spark, tmp_path):
    """Streaming micro-batches absorbed into a persisted LSH index:
    after the stream drains, probing the incrementally-fed index is
    bit-identical to a full offline rebuild over the union — and the
    band store holds exactly one row per (vector, table) despite
    foreachBatch's at-least-once replays (the add's retry guard)."""
    from pyspark.sql import functions as F

    from networkframe_spark.functions.similarity import (
        build_lsh_index,
        lsh_index_search,
    )
    from networkframe_spark.sources import read_embeddings
    from networkframe_spark.streaming.stream import stream_index_add

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(120)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    build_lsh_index(
        emb.filter("vec_id % 2 = 0"), inc, n_planes=4, n_tables=2
    )
    # two micro-batch files of the odd half
    odd = emb.filter("vec_id % 2 = 1").select("vec_id", "embedding")
    odd.filter("vec_id % 4 = 1").write.mode("append").parquet(src)
    odd.filter("vec_id % 4 = 3").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index_add(stream, inc, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_lsh_index(emb, full, n_planes=4, n_tables=2)
    qs = emb.filter("vec_id < 6")
    rows = lambda p: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in lsh_index_search(
            spark, p, qs, k=4, n_probe_bits=1
        ).collect()
    )
    assert rows(inc) == rows(full)
    n_vec = emb.count()
    assert spark.read.parquet(inc + "/bands").count() == 2 * n_vec

def test_stream_index_add_ivf_sq_then_compact(spark, tmp_path):
    """Streaming micro-batches absorbed into the int8 IVF store, then
    the companion maintenance job: post-stream search == brute L2 over
    the dequantized union (exhaustive probe), exactly one cell row per
    vector despite at-least-once replays, and index_compact leaves the
    search bit-identical with ~one file per cell directory."""
    import glob

    from pyspark.sql import functions as F

    from networkframe_spark.functions.similarity import (
        brute_force_top_k,
        build_ivf_sq_index,
        dequantize_expr,
        index_compact,
        ivf_sq_search,
        quantize_embeddings,
    )
    from networkframe_spark.sources import read_embeddings
    from networkframe_spark.streaming.stream import stream_index_add

    emb = read_embeddings(spark, "/root/testdata/sf0.001").limit(120)
    inc = str(tmp_path / "inc")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    build_ivf_sq_index(
        emb.filter("vec_id % 2 = 0"), inc, n_lists=4, n_iter=1
    )
    odd = emb.filter("vec_id % 2 = 1").select("vec_id", "embedding")
    odd.filter("vec_id % 4 = 1").write.mode("append").parquet(src)
    odd.filter("vec_id % 4 = 3").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index_add(stream, inc, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(inc + "/cells").count() == emb.count()
    qs = emb.filter("vec_id < 6")
    rows = lambda: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in ivf_sq_search(
            spark, inc, qs, k=4, n_probe=4, exclude_self=False
        ).collect()
    )
    got = rows()
    deq = quantize_embeddings(emb).select(
        "vec_id",
        dequantize_expr(F.col("qembedding"), F.col("scale")).alias(
            "embedding"
        ),
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["d2"])
        for r in brute_force_top_k(
            deq, qs, k=4, exclude_self=False, metric="l2"
        ).collect()
    )
    assert got == want
    n_before = len(glob.glob(inc + "/cells/**/*.parquet", recursive=True))
    rep = index_compact(spark, inc)
    n_after = len(glob.glob(inc + "/cells/**/*.parquet", recursive=True))
    assert n_after < n_before and n_after <= 4
    assert rep["cells"]["files_after"] == n_after
    assert rows() == got


def test_stream_index_add_minhash_equals_rebuild(spark, tmp_path):
    """Streaming document micro-batches absorbed into the persisted
    MinHash text index: after the stream drains, both probes — the
    decontaminate eval probe AND the self-dedup — are identical to a
    full offline rebuild over the union; at-least-once replays append
    zero rows (band-0 anti-join retry guard); index_stats sees the
    mbands store and index_compact shrinks the micro-batch file
    accumulation while leaving the decision bit-identical."""
    import glob

    from networkframe_spark.functions.dedup import (
        build_minhash_index,
        minhash_index_decontaminate,
        minhash_index_duplicates,
    )
    from networkframe_spark.functions.similarity import (
        index_compact,
        index_stats,
    )
    from networkframe_spark.sources import read_table
    from networkframe_spark.streaming.stream import stream_index_add

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter("doc_id % 20 != 0")
    ev = docs.filter("doc_id % 20 = 0")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    build_minhash_index(
        train.filter("doc_id % 2 = 0"), inc, n_perm=4, bands=2, n_kmod=16
    )
    odd = train.filter("doc_id % 2 = 1").select("doc_id", "text")
    # three micro-batch files, one doc_id overlap across batches so the
    # retry guard sees a genuine replayed id, not just Spark replays
    odd.filter("doc_id % 4 = 1").write.mode("append").parquet(src)
    odd.filter("doc_id % 4 = 3 OR doc_id = 1").write.mode("append").parquet(
        src
    )
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index_add(stream, inc, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_minhash_index(train, full, n_perm=4, bands=2, n_kmod=16)
    decon = lambda p: sorted(
        map(
            tuple,
            minhash_index_decontaminate(
                spark, p, ev, threshold=0.25
            ).collect(),
        )
    )
    dup = lambda p: sorted(
        map(
            tuple,
            minhash_index_duplicates(spark, p, threshold=0.25).collect(),
        )
    )
    assert decon(inc) == decon(full)
    assert dup(inc) == dup(full)
    # exactly bands rows per doc despite the overlapping micro-batch
    n_docs = train.count()
    assert spark.read.parquet(inc + "/mbands").count() == 2 * n_docs
    st = index_stats(spark, inc)
    assert "mbands" in st and st["mbands"]["files"] > 0
    want_decon, want_dup = decon(inc), dup(inc)
    f_before = len(glob.glob(inc + "/mbands/**/*.parquet", recursive=True))
    rep = index_compact(spark, inc)
    f_after = len(glob.glob(inc + "/mbands/**/*.parquet", recursive=True))
    assert rep["mbands"]["files_after"] == f_after < f_before
    assert decon(inc) == want_decon and dup(inc) == want_dup


def test_stream_index_add_text_equals_rebuild(spark, tmp_path):
    """Streaming document micro-batches absorbed into the persisted
    inverted text index (the sixth family): after the stream drains,
    the BM25 probe is bit-identical to a full offline rebuild over
    the union; at-least-once replays ingest zero docs (doclens
    membership anti-join), so meta's exact-integer corpus stats
    converge to the rebuild's."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
    )
    from networkframe_spark.sources import read_table
    from networkframe_spark.store import read_manifest
    from networkframe_spark.streaming.stream import stream_index_add

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    build_text_index(docs.filter("doc_id % 2 = 0"), inc, n_kmod=16)
    odd = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    # two micro-batch files with one doc_id overlap so the dedupe
    # guard sees a genuine replayed id, not just Spark replays
    odd.filter("doc_id % 4 = 1").write.mode("append").parquet(src)
    odd.filter("doc_id % 4 = 3 OR doc_id = 1").write.mode("append").parquet(
        src
    )
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index_add(stream, inc, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    build_text_index(docs, full, n_kmod=16)
    assert read_manifest(spark, inc, "meta") == read_manifest(spark, full, "meta")
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(inc) == srch(full)


def test_stream_index_add_maintain_cadence(spark, tmp_path):
    """stream_index_add(maintain_every=2): the micro-batch cadence
    auto-compacts breached stores between adds — file accumulation
    stays bounded while the drained index still equals a rebuild."""
    from networkframe_spark.functions.search import (
        build_text_index,
        text_index_search,
    )
    from networkframe_spark.functions.similarity import index_stats
    from networkframe_spark.sources import read_table
    from networkframe_spark.streaming.stream import stream_index_add

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    build_text_index(docs.filter("doc_id % 5 = 0"), inc, n_kmod=4)
    rest = docs.filter("doc_id % 5 != 0").select("doc_id", "text")
    for m in (1, 2, 3, 4):
        rest.filter(f"doc_id % 5 = {m}").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_index_add(
        stream, inc, ckpt,
        maintain_every=2, max_files_per_partition=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the cadence compacted at least once: bounded accumulation
    st = index_stats(spark, inc)
    assert st["postings"]["max_files_per_partition"] <= 4
    build_text_index(docs, full, n_kmod=4)
    terms = ["spark", "hash", "vector"]
    srch = lambda p: sorted(
        map(tuple, text_index_search(spark, p, terms, k=10).collect())
    )
    assert srch(inc) == srch(full)


def test_neardup_materialize_jobs_keep_the_callers_job_group(spark):
    """A materialized fold checkpoints ``docs`` and ``bands`` from
    helper threads; every job it submits carries the caller's job
    group, so none joins the jobs without a group."""
    from networkframe_spark.streaming.ops import neardup_increment

    sc = spark.sparkContext
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string",
    )
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("neardup-fold", "one materialized fold")
    try:
        neardup_increment(
            batch, None, None, None, n_perm=4, n_bands=2, threshold=0.3,
            materialize=True,
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup("neardup-fold")
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
