"""True Structured Streaming runs: file source → windowed agg with
watermark, foreachBatch DQ audit, applyInPandasWithState deltas."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from aws_datalake_spark.operators.dq import Expectation
from aws_datalake_spark.streaming.microbatch import run_stream_with_dq
from aws_datalake_spark.streaming.stateful import delta_stateful_stream
from aws_datalake_spark.streaming.windows import tumbling_counts, with_watermark

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


ROWS_BATCH1 = [
    (1, "2024-01-01 10:05:00", 1, "view", 1.0),
    (2, "2024-01-01 10:20:00", 1, "view", 2.0),
    (3, "2024-01-01 11:05:00", 2, "click", 3.0),
    (4, "2024-01-01 11:45:00", 2, "click", 4.0),
]
# batch 2 pushes the watermark past 11:00+1h so earlier windows close
ROWS_BATCH2 = [(5, "2024-01-01 13:30:00", 3, "view", 5.0)]


def _write_events_json(spark, path, rows=ROWS_BATCH1, mode="overwrite"):
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string, value double")
    df.coalesce(1).withColumn("ts", F.to_timestamp("ts")).write.mode(mode).json(path)


def _await(query, seconds=30):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(seconds)


def test_stream_tumbling_window_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events_json")
    _write_events_json(spark, src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = tumbling_counts(with_watermark(stream, "ts", "10 minutes"), duration="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # append mode emits a window only once the watermark passes its
    # end; the watermark advances BETWEEN batches, so feed a later
    # batch to close the 10:00 and 11:00 windows
    _write_events_json(spark, src, rows=ROWS_BATCH2, mode="append")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = {r.window_start.hour: r for r in spark.table("win_out").collect()}
    assert rows[10].n_events == 2 and rows[10].sum_value == 3.0
    assert rows[11].n_events == 2 and rows[11].sum_value == 7.0
    assert 13 not in rows  # still open — watermark hasn't passed it


def test_foreachbatch_dq_audit(spark, tmp_path):
    src = str(tmp_path / "events_json")
    _write_events_json(spark, src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    sink = str(tmp_path / "audit")
    q = run_stream_with_dq(
        stream,
        [
            Expectation("event_id", "not_null"),
            Expectation("event_type", "in_set", {"values": ["view", "click"]}),
        ],
        audit_sink_path=sink,
        checkpoint_path=str(tmp_path / "ckpt2"),
        file_identifier="events",
    )
    _await(q)
    audit = spark.read.parquet(sink).collect()
    by_type = {r.expectation_type: r for r in audit}
    assert by_type["expect_column_values_to_not_be_null"].element_count == 4
    assert by_type["expect_column_values_to_be_in_set"].success
    assert all(r.file_identifier == "events" for r in audit)


def test_stateful_delta_stream_two_batches(spark, tmp_path):
    src = tmp_path / "snaps"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt3")

    def snap(day, rows):
        df = spark.createDataFrame(rows, "_id long, m1 long")
        df.coalesce(1).write.mode("append").parquet(str(src))

    # batch 1: first sight → delta = raw cumulative
    snap(1, [(1, 10), (2, 5)])
    stream = spark.readStream.schema("_id long, m1 long").parquet(str(src))
    out = delta_stateful_stream(stream, keys=["_id"], metrics=["m1"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("delta_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    first = {(r._id): r.m1 for r in spark.table("delta_out").collect()}
    assert first == {1: 10, 2: 5}

    # batch 2: cumulative grew → delta vs stored state
    snap(2, [(1, 25), (2, 5)])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    all_rows = [(r._id, r.m1) for r in spark.table("delta_out").collect()]
    assert sorted(all_rows) == [(1, 10), (1, 15), (2, 0), (2, 5)]


def test_stream_session_window_per_user(spark, tmp_path):
    src = str(tmp_path / "sess_json")
    _write_events_json(
        spark, src,
        rows=[
            (1, "2024-01-01 10:00:00", 1, "view", 1.0),
            (2, "2024-01-01 10:03:00", 1, "view", 1.0),   # same session (gap 5m)
            (3, "2024-01-01 10:30:00", 1, "view", 1.0),   # new session
        ],
    )
    from aws_datalake_spark.streaming.windows import session_counts

    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = session_counts(with_watermark(stream, "ts", "10 minutes"), gap="5 minutes",
                         keys=["user_id"])
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    q.processAllAvailable()
    # push the watermark far forward so both sessions close
    _write_events_json(spark, src, rows=[(9, "2024-01-01 12:00:00", 9, "view", 0.0)],
                       mode="append")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    sessions = sorted(
        (r.session_start.minute, r.n_events)
        for r in spark.table("sess_out").filter("user_id = 1").collect()
    )
    assert sessions == [(0, 2), (30, 1)]  # 10:00-10:08 (2 events), 10:30 session


def test_stream_late_data_dropped_past_watermark(spark, tmp_path):
    src = str(tmp_path / "late_json")
    _write_events_json(spark, src, rows=[(1, "2024-01-01 10:05:00", 1, "view", 1.0)])
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    agg = tumbling_counts(with_watermark(stream, "ts", "10 minutes"), duration="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    q.processAllAvailable()
    # advance the watermark to 13:50, closing the 10:00 window...
    _write_events_json(spark, src, rows=[(2, "2024-01-01 14:00:00", 2, "view", 1.0)],
                       mode="append")
    q.processAllAvailable()
    # ...then send an event for the CLOSED 10:00 window: must be dropped
    _write_events_json(spark, src, rows=[(3, "2024-01-01 10:10:00", 3, "view", 1.0)],
                       mode="append")
    q.processAllAvailable()
    # and one more advance so emitted state is flushed deterministically
    _write_events_json(spark, src, rows=[(4, "2024-01-01 16:00:00", 4, "view", 1.0)],
                       mode="append")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    ten = [r for r in spark.table("late_out").collect() if r.window_start.hour == 10]
    assert len(ten) == 1 and ten[0].n_events == 1  # late event 3 never counted


def test_idempotent_batch_sink_replay_safe(spark, tmp_path):
    from aws_datalake_spark.streaming.microbatch import idempotent_batch_sink

    sink = str(tmp_path / "eo_sink")
    body = idempotent_batch_sink(sink)
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    body(b0, 0)
    body(b1, 1)
    body(b0, 0)  # replay of batch 0 (restart before checkpoint commit)
    out = spark.read.parquet(sink)
    assert sorted((r.id, r.batch_id) for r in out.collect()) == [(1, 0), (2, 0), (3, 1)]


def test_stream_static_enrichment_join(spark, tmp_path):
    src = str(tmp_path / "enrich_json")
    _write_events_json(spark, src)
    static_dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    q = (
        stream.join(static_dim, "user_id", "left")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .start()
    )
    _await(q)
    rows = {r.event_id: r.tier for r in spark.table("enrich_out").collect()}
    assert rows[1] == "gold" and rows[3] == "silver"


def test_stream_stream_interval_join(spark, tmp_path):
    psrc = str(tmp_path / "p_json")
    vsrc = str(tmp_path / "v_json")
    _write_events_json(
        spark, psrc,
        rows=[(10, "2024-01-01 10:30:00", 1, "purchase", 50.0)],
    )
    _write_events_json(
        spark, vsrc,
        rows=[
            (20, "2024-01-01 10:00:00", 1, "view", 0.0),   # within 1h before
            (21, "2024-01-01 08:00:00", 1, "view", 0.0),   # too early
        ],
    )
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA).json(psrc)
        .selectExpr("event_id AS p_id", "user_id", "ts AS p_ts")
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        spark.readStream.schema(EVENTS_SCHEMA).json(vsrc)
        .selectExpr("event_id AS v_id", "user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            "user_id = v_user AND v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    _await(q)
    out = [(r.p_id, r.v_id) for r in spark.table("ss_join_out").collect()]
    assert out == [(10, 20)]  # in-window view matched; early view excluded


def test_stream_dedup_drops_redelivery_within_watermark(spark, tmp_path):
    from aws_datalake_spark.streaming.windows import stream_dedup

    src = str(tmp_path / "events_json")
    _write_events_json(spark, src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    dedup = stream_dedup(stream, ["event_id"], "ts", "2 hours")
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # re-deliver event_id 1 (same ts, within watermark) + one new event
    redelivery = [ROWS_BATCH1[0], (6, "2024-01-01 11:50:00", 9, "view", 9.0)]
    _write_events_json(spark, src, rows=redelivery, mode="append")
    _await(q)
    rows = spark.table("dedup_out").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3, 4, 6]  # no duplicate row for event 1


def test_paginated_api_streaming_source_exactly_once(spark, tmp_path):
    from aws_datalake_spark.sources.paginated import register

    register(spark)
    stream = (
        spark.readStream.format("paged_api")
        .option("total_rows", "30")
        .option("rows_per_batch", "10")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("paged_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _await(q)
    rows = spark.table("paged_stream_out").collect()
    # cursor drained the full "API" exactly once: 30 rows, all distinct
    assert len(rows) == 30
    assert len({r.id for r in rows}) == 30
    assert all(r.status in ("ACTIVE", "PAUSED") for r in rows)


def test_incremental_rollup_sink_two_batches_matches_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from aws_datalake_spark.streaming.microbatch import incremental_rollup_sink

    rollup = str(tmp_path / "hourly")
    body = incremental_rollup_sink(rollup)
    b1 = spark.createDataFrame(
        [
            ("2024-01-01 10:05:00", 1.5),
            ("2024-01-01 10:55:00", 2.25),
            ("2024-01-01 11:10:00", 4.0),
        ],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    # batch 2 overlaps hour 11 and opens hour 12
    b2 = spark.createDataFrame(
        [
            ("2024-01-01 11:59:00", 0.5),
            ("2024-01-01 12:00:00", 10.0),
        ],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    body(b1, 0)
    body(b2, 1)
    got = {
        r.hour.strftime("%H"): (r.n_events, r.sum_s)
        for r in spark.read.parquet(rollup).collect()
    }
    assert got == {
        "10": (2, 3_750_000),
        "11": (2, 4_500_000),
        "12": (1, 10_000_000),
    }


def test_incremental_rollup_stream_end_to_end(spark, tmp_path):
    from aws_datalake_spark.streaming.microbatch import run_incremental_rollup

    src = str(tmp_path / "roll_src")
    rollup = str(tmp_path / "roll_out")

    def feed(rows, mode):
        df = spark.createDataFrame(rows, "ts string, value double")
        df.coalesce(1).withColumn("ts", F.to_timestamp("ts")).write.mode(mode).json(src)

    feed([("2024-01-01 10:05:00", 1.5), ("2024-01-01 11:10:00", 4.0)], "overwrite")
    stream = spark.readStream.schema("ts timestamp, value double").json(src)
    q = run_incremental_rollup(stream, rollup, str(tmp_path / "roll_ckpt"))
    q.processAllAvailable()
    feed([("2024-01-01 11:59:00", 0.5)], "append")
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    got = {
        r.hour.strftime("%H"): (r.n_events, r.sum_s)
        for r in spark.read.parquet(rollup).collect()
    }
    assert got == {"10": (1, 1_500_000), "11": (2, 4_500_000)}


def test_rocksdb_state_store_backs_stateful_stream(spark, tmp_path):
    # RocksDB provider: state spills off-heap/disk instead of growing
    # the JVM heap — the 100 TB-stream posture for big keyspaces
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "rocks_src")
        _write_events_json(spark, src)
        stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
        agg = tumbling_counts(with_watermark(stream, "ts", "10 minutes"), duration="1 hour")
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName("rocks_win")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .start()
        )
        _await(q)
        rows = {r.window_start.hour: r.n_events for r in spark.table("rocks_win").collect()}
        assert rows == {10: 2, 11: 2}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_restart_from_checkpoint_no_reprocess(spark, tmp_path):
    src = str(tmp_path / "restart_src")
    sink = str(tmp_path / "restart_sink")
    ckpt = str(tmp_path / "restart_ckpt")
    _write_events_json(spark, src)

    def start():
        stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
        return (
            stream.select("event_id")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    _await(q)
    assert sorted(r.event_id for r in spark.read.parquet(sink).collect()) == [1, 2, 3, 4]
    # restart from the same checkpoint; feed one new batch — the old
    # files must NOT be reprocessed (source offsets recovered)
    _write_events_json(spark, src, rows=ROWS_BATCH2, mode="append")
    q2 = start()
    _await(q2)
    out = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    assert out == [1, 2, 3, 4, 5]  # each event exactly once across the restart


def test_stream_stream_left_outer_join_emits_null_on_watermark(spark, tmp_path):
    """Left-outer stream-stream join: the unmatched left row is held
    in state until the watermark passes the join window, then emitted
    with NULL right columns — the completeness contract that the
    inner-join test cannot show."""
    psrc = str(tmp_path / "lp_json")
    vsrc = str(tmp_path / "lv_json")
    _write_events_json(
        spark, psrc,
        rows=[
            (10, "2024-01-01 10:30:00", 1, "purchase", 50.0),  # has a view
            (11, "2024-01-01 10:40:00", 2, "purchase", 9.0),   # never matched
        ],
    )
    _write_events_json(
        spark, vsrc,
        rows=[(20, "2024-01-01 10:00:00", 1, "view", 0.0)],
    )
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA).json(psrc)
        .selectExpr("event_id AS p_id", "user_id", "ts AS p_ts")
        .withWatermark("p_ts", "10 minutes")
    )
    views = (
        spark.readStream.schema(EVENTS_SCHEMA).json(vsrc)
        .selectExpr("event_id AS v_id", "user_id AS v_user", "ts AS v_ts")
        .withWatermark("v_ts", "10 minutes")
    )
    joined = purchases.join(
        views,
        F.expr("user_id = v_user AND v_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_lojoin_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    q.processAllAvailable()
    # advance BOTH sides' watermarks far past the window (the global
    # watermark is the min across inputs) so held state flushes
    _write_events_json(
        spark, vsrc,
        rows=[(99, "2024-01-01 23:00:00", 9, "view", 0.0)],
        mode="append",
    )
    _write_events_json(
        spark, psrc,
        rows=[(98, "2024-01-01 23:00:00", 9, "purchase", 1.0)],
        mode="append",
    )
    q.processAllAvailable()
    _await(q)
    out = {(r.p_id, r.v_id) for r in spark.table("ss_lojoin_out").collect()}
    # (98, 99) is the watermark-advancing pair itself; the load-bearing
    # row is (11, None): unmatched left emitted with NULL right.
    assert out == {(10, 20), (11, None), (98, 99)}


def test_stream_quarantine_diverts_bad_rows(spark, tmp_path):
    from aws_datalake_spark.operators.dq import Expectation
    from aws_datalake_spark.streaming.microbatch import quarantine_foreach_batch

    src = str(tmp_path / "q_json")
    _write_events_json(
        spark, src,
        rows=[
            (1, "2024-01-01 10:00:00", 1, "view", 5.0),
            (2, "2024-01-01 10:01:00", 1, "bogus", 5.0),     # bad type
            (3, "2024-01-01 10:02:00", 2, "click", -4.0),    # bad value
        ],
    )
    exps = [
        Expectation("value", "between", {"min": 0.0, "max": 100.0}),
        Expectation("event_type", "in_set",
                    {"values": ["view", "click", "purchase", "signup", "error"]}),
    ]
    good_p = str(tmp_path / "good")
    bad_p = str(tmp_path / "quar")
    q = (
        spark.readStream.schema(EVENTS_SCHEMA).json(src)
        .writeStream.queryName("quarantine_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_q"))
        .foreachBatch(quarantine_foreach_batch(exps, good_p, bad_p))
        .start()
    )
    _await(q)
    assert [r.event_id for r in spark.read.parquet(good_p).collect()] == [1]
    bad = {r.event_id: r["__reasons"] for r in spark.read.parquet(bad_p).collect()}
    assert bad == {2: "event_type:in_set", 3: "value:between"}


def test_interval_join_operator_on_real_streams(spark, tmp_path):
    """The registry's st_interval_join batch twin and this streaming
    run share ONE builder (streaming/windows.py:interval_join); on
    streams the watermark + time-range predicate bound the join
    state."""
    from aws_datalake_spark.streaming.windows import interval_join

    psrc, vsrc = str(tmp_path / "ij_p"), str(tmp_path / "ij_v")
    _write_events_json(
        spark, psrc, rows=[(10, "2024-01-01 10:30:00", 1, "purchase", 50.0)]
    )
    _write_events_json(
        spark, vsrc,
        rows=[
            (20, "2024-01-01 10:00:00", 1, "view", 0.0),  # within 1h before
            (21, "2024-01-01 08:00:00", 1, "view", 0.0),  # too early
            (22, "2024-01-01 10:45:00", 1, "view", 0.0),  # after the purchase
        ],
    )
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA).json(psrc)
        .selectExpr("event_id AS p_id", "user_id", "ts AS p_ts")
    )
    views = (
        spark.readStream.schema(EVENTS_SCHEMA).json(vsrc)
        .selectExpr("event_id AS v_id", "user_id AS v_user", "ts AS v_ts")
    )
    joined = interval_join(
        purchases, views, "user_id", "v_user", "p_ts", "v_ts",
        lookback="1 hour", watermark="2 hours",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_op_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij_op"))
        .start()
    )
    _await(q)
    out = sorted((r.p_id, r.v_id) for r in spark.table("ij_op_out").collect())
    assert out == [(10, 20)]


def test_snapshot_enrich_sink_sees_dim_updates_per_batch(spark, tmp_path):
    """Stream-static enrichment through the txn snapshot: a dimension
    MERGE between micro-batches is visible to the NEXT batch without
    restarting the stream (a plain stream-static parquet join binds
    the file list once and would miss it)."""
    from aws_datalake_spark.sources import txn_table as tt
    from aws_datalake_spark.streaming.microbatch import (
        idempotent_batch_sink,
        snapshot_enrich_sink,
    )

    dim_root = str(tmp_path / "dim")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    tt.write(
        spark.createDataFrame([(1, "bronze")], ["k", "tier"]).coalesce(1),
        dim_root,
    )
    spark.createDataFrame([(100, 1)], ["event_id", "k"]).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    stream = spark.readStream.schema("event_id long, k long").json(src)
    q = (
        stream.writeStream.foreachBatch(
            snapshot_enrich_sink(dim_root, idempotent_batch_sink(out), on=["k"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # dimension upsert BETWEEN batches
    tt.merge_upsert(
        spark, dim_root,
        spark.createDataFrame([(1, "gold")], ["k", "tier"]), keys=["k"],
    )
    spark.createDataFrame([(101, 1)], ["event_id", "k"]).coalesce(1).write.mode(
        "append"
    ).json(src)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    got = {r.event_id: r.tier for r in spark.read.parquet(out).collect()}
    assert got == {100: "bronze", 101: "gold"}


def _have_protobuf() -> bool:
    """transformWithState's python<->JVM state protocol is protobuf;
    the harness image ships no google.protobuf (and pip installs are
    off), so the tws tests gate on it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithState needs google.protobuf; not in this image",
)
def test_tws_delta_stream_matches_applyinpandas_twin(spark, tmp_path):
    """transformWithStateInPandas cumulative->delta (streaming/tws.py)
    reproduces the applyInPandasWithState twin's output across two
    micro-batches."""
    from aws_datalake_spark.streaming.tws import delta_tws_stream

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "tws_snaps"
    src.mkdir()
    ckpt = str(tmp_path / "tws_ckpt")

    def snap(rows):
        spark.createDataFrame(rows, "_id long, m1 long").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    snap([(1, 10), (2, 5)])
    stream = spark.readStream.schema("_id long, m1 long").parquet(str(src))
    out = delta_tws_stream(stream, keys=["_id"], metrics=["m1"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    first = {r._id: r.m1 for r in spark.table("tws_out").collect()}
    assert first == {1: 10, 2: 5}
    snap([(1, 25), (2, 5)])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    all_rows = sorted((r._id, r.m1) for r in spark.table("tws_out").collect())
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert all_rows == [(1, 10), (1, 15), (2, 0), (2, 5)]


@pytest.mark.skipif(
    not _have_protobuf(),
    reason="transformWithState needs google.protobuf; not in this image",
)
def test_tws_initial_state_seeds_backfill_cumulative(spark, tmp_path):
    """initialState bootstraps the store from a batch state table:
    the first streamed row deltas against the backfill, not zero."""
    from aws_datalake_spark.streaming.tws import delta_tws_stream

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = tmp_path / "tws2_snaps"
    src.mkdir()
    ckpt = str(tmp_path / "tws2_ckpt")
    seed = spark.createDataFrame([(1, 100), (3, 7)], "_id long, m1 long")
    spark.createDataFrame(
        [(1, 120), (2, 5)], "_id long, m1 long"
    ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema("_id long, m1 long").parquet(str(src))
    out = delta_tws_stream(
        stream, keys=["_id"], metrics=["m1"], initial_state=seed
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws2_out")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    got = {r._id: r.m1 for r in spark.table("tws2_out").collect()}
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    # key 1: 120 - 100 (seeded) = 20; key 2: unseeded -> raw 5
    assert got == {1: 20, 2: 5}


def test_corpus_ingest_sink_quality_dedup_exactly_once(spark, tmp_path):
    """Streaming corpus curation end to end: low-quality docs drop,
    duplicates drop within AND across micro-batches, replays no-op."""
    from aws_datalake_spark.sources import txn_table as tt
    from aws_datalake_spark.streaming.microbatch import corpus_ingest_sink

    src = str(tmp_path / "docs_src")
    root = str(tmp_path / "corpus")
    good = ("this is a reasonably long clean document with the usual "
            "words and enough of the stopword signal to score well "
            "the and of to is " * 3)
    spark.createDataFrame(
        [(1, good + "one"), (2, "x!!"), (3, good + "one")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id long, text string").json(src)
    q = (
        stream.writeStream.foreachBatch(corpus_ingest_sink(root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: one cross-batch duplicate, one genuinely new doc
    spark.createDataFrame(
        [(4, good + "one"), (5, good + "two")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").json(src)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    df = tt.read(spark, root)
    assert sorted(r.doc_id for r in df.collect()) == [1, 5]
    # replay batch 0: no-op
    v = tt.snapshot(root)["version"]
    corpus_ingest_sink(root)(
        spark.createDataFrame([(9, good + "three")], "doc_id long, text string"),
        0,
    )
    assert tt.snapshot(root)["version"] == v
    assert tt.read(spark, root).count() == 2


def test_stream_stateful_sessionization(spark, tmp_path):
    """session_stateful_stream: a gap inside one batch closes the
    first session immediately; the trailing open session closes via
    the event-time timeout once a later batch moves the watermark
    past last-event + gap."""
    from aws_datalake_spark.streaming.stateful import session_stateful_stream

    src = str(tmp_path / "sess_state_json")
    _write_events_json(
        spark, src,
        rows=[
            (1, "2024-01-01 10:00:00", 1, "view", 1.0),
            (2, "2024-01-01 10:30:00", 1, "click", 2.0),
            # > 1 h gap → closes session 1 in-batch
            (3, "2024-01-01 12:00:00", 1, "view", 3.0),
            (4, "2024-01-01 10:10:00", 2, "view", 4.0),
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src)
    out = session_stateful_stream(
        stream.withWatermark("ts", "10 minutes"), gap_seconds=3600
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_state_out")
        .option("checkpointLocation", str(tmp_path / "sess_state_ckpt"))
        .start()
    )
    q.processAllAvailable()
    first = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sess_state_out").collect()
    }
    # user 1's first session closes via the in-batch gap; user 2's
    # closes via event-time timeout in the follow-up micro-batch —
    # the 12:00 event already moved the watermark to 11:50, past
    # 10:10 + 1 h. User 1's trailing session (timeout 13:00) stays
    # open.
    assert first == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 2),
        (2, "2024-01-01 10:10:00", "2024-01-01 10:10:00", 1),
    }
    # push the watermark far past every open session's end + gap
    _write_events_json(
        spark, src,
        rows=[(5, "2024-01-02 09:00:00", 3, "view", 5.0)],
        mode="append",
    )
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sess_state_out").collect()
    }
    assert (1, "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1) in rows
    assert (2, "2024-01-01 10:10:00", "2024-01-01 10:10:00", 1) in rows
