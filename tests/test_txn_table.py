"""Transaction-log table format: atomic commits, time travel,
stats-pruned reads, file-pruned MERGE, compaction, vacuum, OCC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from aws_datalake_spark.sources import txn_table as tt


def _mk(spark, lo, hi, price=1.0):
    return spark.createDataFrame(
        [Row(k=i, price=float(price), seg=f"s{i % 3}") for i in range(lo, hi)]
    ).coalesce(1)


@pytest.fixture()
def table(tmp_path, spark):
    """Two appends with disjoint key ranges → two data files whose
    footer stats separate cleanly on k."""
    root = str(tmp_path / "t")
    v1 = tt.write(_mk(spark, 0, 100), root, mode="append")
    v2 = tt.write(_mk(spark, 1000, 1100), root, mode="append")
    assert (v1, v2) == (1, 2)
    return root


def test_roundtrip_and_log(table, spark):
    df = tt.read(spark, table)
    assert df.count() == 200
    snap = tt.snapshot(table)
    assert snap["version"] == 2 and len(snap["files"]) == 2
    for add in snap["files"].values():
        st = add["stats"]["k"]
        assert st["min"] in (0, 1000) and st["max"] in (99, 1099)
    ops = [h["op"] for h in tt.history(table)]
    assert ops == ["append", "append"]


def test_time_travel_and_overwrite(table, spark):
    tt.write(_mk(spark, 5000, 5010), table, mode="overwrite")
    assert tt.read(spark, table).count() == 10
    assert tt.read(spark, table, version=2).count() == 200  # time travel
    assert tt.read(spark, table, version=1).count() == 100


def test_stats_pruned_read(table, spark):
    pruned = tt.read(spark, table, prune={"k": (0, 99)})
    assert len(pruned.inputFiles()) == 1  # second file skipped by stats
    assert pruned.count() == 100
    # pruning is an optimization, not a filter: full range reads both
    assert len(tt.read(spark, table, prune={"k": (50, 1050)}).inputFiles()) == 2
    # fully-disjoint range → empty frame with the table schema
    empty = tt.read(spark, table, prune={"k": (9_000_000, 9_000_001)})
    assert empty.count() == 0 and "price" in empty.columns


def test_merge_rewrites_only_intersecting_files(table, spark):
    updates = spark.createDataFrame(
        [Row(k=k, price=99.0, seg="u") for k in (1001, 1002, 2000)]
    )
    res = tt.merge_upsert(spark, table, updates, keys=["k"])
    assert res["rewritten"] == 1 and res["untouched"] == 1  # file pruning
    df = tt.read(spark, table)
    assert df.count() == 201  # 200 + 1 brand-new key
    assert df.filter("k = 1001").select("price").collect()[0][0] == 99.0
    assert df.filter("k = 5").select("price").collect()[0][0] == 1.0
    # the untouched file's add action (and its physical file) survived
    snap = tt.snapshot(table)
    assert any(a["stats"]["k"]["max"] == 99 for a in snap["files"].values())


def test_merge_keyed_on_date_column(tmp_path, spark):
    """Footer stats hold DATE bounds as ISO strings; the merges'
    collected date bounds must compare against them (and still
    prune the file whose date range is disjoint)."""
    import datetime

    day = lambda i: datetime.date(2024, 1, 1) + datetime.timedelta(days=i)  # noqa: E731

    def two_files(root):
        for lo in (0, 100):
            tt.write(spark.createDataFrame(
                [(day(i), i, "Y", None) for i in range(lo, lo + 10)],
                "d date, v long, actv_flg string, record_to timestamp",
            ).coalesce(1), root)
        return root

    upd = spark.createDataFrame(
        [(day(3), -3, "Y", None), (day(20), -20, "Y", None)],
        "d date, v long, actv_flg string, record_to timestamp",
    )
    root = two_files(str(tmp_path / "dated"))
    res = tt.merge_upsert(spark, root, upd, keys=["d"])
    assert res["rewritten"] == 1 and res["untouched"] == 1
    got = {r.d: r.v for r in tt.read(spark, root).collect()}
    assert len(got) == 21 and got[day(3)] == -3 and got[day(20)] == -20

    dim = two_files(str(tmp_path / "dated_dim"))
    res = tt.scd2_merge_txn(
        spark, dim, spark.createDataFrame([(day(105), 5)], "d date, v long"),
        keys=["d"], close_ts=F.lit("2024-06-01 00:00:00").cast("timestamp"),
    )
    assert res["rewritten"] == 1 and res["untouched"] == 1
    closed = tt.read(spark, dim).filter("actv_flg = 'N'").collect()
    assert [(r.d, r.v) for r in closed] == [(day(105), 105)]


def test_delete_where_with_prune(table, spark):
    res = tt.delete_where(spark, table, "k < 10", prune={"k": (None, 10)})
    assert res["rewritten"] == 1 and res["untouched"] == 1
    assert tt.read(spark, table).count() == 190


def test_compact_and_vacuum(table, spark):
    v = tt.compact(spark, table, target_files=1)
    snap = tt.snapshot(table)
    assert len(snap["files"]) == 1 and snap["version"] == v
    # time travel still works before vacuum
    assert tt.read(spark, table, version=2).count() == 200
    deleted = tt.vacuum(table, retain_versions=1)
    assert deleted == 2  # the two pre-compaction files reclaimed
    assert tt.read(spark, table).count() == 200  # live snapshot intact


def test_checkpoint_log_replay_equivalence(table, spark):
    before = tt.snapshot(table)
    cp_v = tt.checkpoint_log(table)
    assert cp_v == before["version"]
    tt.write(_mk(spark, 7000, 7010), table, mode="append")
    after = tt.snapshot(table)
    assert after["version"] == before["version"] + 1
    assert len(after["files"]) == len(before["files"]) + 1
    # a snapshot at a pre-checkpoint version still replays correctly
    assert len(tt.snapshot(table, version=1)["files"]) == 1


def test_occ_conflict_detection(table, spark):
    with pytest.raises(tt.ConflictError):
        tt._commit(table, "merge", [], [], expect_version=1)  # stale snapshot
    # merge retries through a conflict transparently: bump the log
    # between bounds-collection and commit by racing two merges serially
    u1 = spark.createDataFrame([Row(k=1, price=3.0, seg="u")])
    res = tt.merge_upsert(spark, table, u1, keys=["k"])
    assert res["version"] == tt.snapshot(table)["version"]


def test_commit_is_atomic_single_file(table):
    log = os.path.join(table, "_txn_log")
    names = sorted(os.listdir(log))
    assert names == ["00000000000000000001.json", "00000000000000000002.json"]


def test_stream_append_sink_exactly_once(tmp_path, spark):
    """File-source stream → txn-table sink: each micro-batch is one
    atomic stream-append commit; a replayed batch id is a no-op (the
    at-least-once retry window closes)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    root = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(
        1
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("k long, v string").json(src)
    q = (
        stream.writeStream.foreachBatch(tt.stream_append_sink(root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame([(3, "c")], ["k", "v"]).coalesce(1).write.mode(
        "append"
    ).json(src)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    assert tt.read(spark, root).count() == 3
    hist = tt.history(root)
    assert all(h["op"] == "stream-append" for h in hist)
    assert tt.committed_stream_batches(root) == {0, 1}
    # simulate a sink replay of batch 0 (retry after crash before the
    # streaming checkpoint advanced): must be a no-op
    replay = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    tt.stream_append_sink(root)(replay, 0)
    assert tt.read(spark, root).count() == 3
    assert tt.snapshot(root)["version"] == len(hist)


def test_read_changes_cdc_feed(table, spark):
    """read_changes returns exactly the rows added after a version,
    tagged with commit version/op."""
    from pyspark.sql import Row

    base_v = tt.snapshot(table)["version"]  # 2
    tt.write(_mk(spark, 2000, 2010), table, mode="append")  # v3
    tt.merge_upsert(
        spark, table, spark.createDataFrame([Row(k=2000, price=5.0, seg="u")]),
        keys=["k"],
    )  # v4 rewrites the v3 file
    ch = tt.read_changes(spark, table, since_version=base_v)
    vs = {r["_commit_version"] for r in ch.select("_commit_version").distinct().collect()}
    assert vs == {base_v + 1, base_v + 2}
    appended = ch.filter(f"_commit_version = {base_v + 1}")
    assert appended.count() == 10
    assert set(ch.filter("_commit_op = 'merge'").select("k").toPandas()["k"]) == set(
        range(2000, 2010)
    )  # merge rewrote the whole touched file (upsert-style CDC)
    with pytest.raises(FileNotFoundError):
        tt.read_changes(spark, table, since_version=99)


def test_zorder_compact_multi_column_skipping(tmp_path, spark):
    """After Z-order clustering on (x, y), range predicates on EITHER
    column skip most files — the multi-column data-skipping property
    a single-column sort cannot give."""
    import itertools

    root = str(tmp_path / "z")
    # anti-correlated grid: a y-sort would leave x stats wide open
    rows = [
        Row(x=i, y=1023 - i, payload=f"p{i}")
        for i in range(1024)
    ]
    tt.write(spark.createDataFrame(rows).repartition(4), root)
    v = tt.zorder_compact(spark, root, ["x", "y"], target_files=8)
    snap = tt.snapshot(root)
    assert snap["version"] == v and len(snap["files"]) == 8
    assert tt.read(spark, root).count() == 1024  # lossless rewrite

    def files_for(prune):
        return len(tt.read(spark, root, prune=prune).inputFiles())

    # a narrow range on either column touches a small minority of files
    assert files_for({"x": (0, 63)}) <= 3
    assert files_for({"y": (0, 63)}) <= 3
    # and the data still comes back right
    assert (
        tt.read(spark, root, prune={"x": (0, 63)}).filter("x < 64").count()
        == 64
    )


def test_zorder_constant_column_falls_back(tmp_path, spark):
    root = str(tmp_path / "zc")
    tt.write(
        spark.createDataFrame([Row(x=1, y=i) for i in range(100)]).repartition(3),
        root,
    )
    v = tt.zorder_compact(spark, root, ["x"], target_files=1)  # x constant
    assert len(tt.snapshot(root)["files"]) == 1 and v == 2
    assert tt.read(spark, root).count() == 100


def test_maintenance_planner_and_sql_view(table, spark):
    for i in range(3):
        tt.write(_mk(spark, 3000 + i * 10, 3010 + i * 10), table, mode="append")
    st = tt.table_stats(table)
    assert st["live_files"] == 5 and st["small_files"] == 5
    assert st["commits_since_checkpoint"] == 5
    plan = tt.plan_maintenance(table, max_small_files=4, max_log_tail=4,
                               min_tombstones=1)
    assert plan == ["compact", "checkpoint_log"]  # nothing tombstoned yet
    tt.compact(spark, table, target_files=1)
    tt.checkpoint_log(table)
    assert tt.plan_maintenance(table, max_small_files=4, max_log_tail=4,
                               min_tombstones=1) == ["vacuum"]

    # SQL surface — current and time-travel views (v1 must be read
    # BEFORE vacuum reclaims its file: time travel is retention-bound)
    tt.register_txn_view(spark, table, "tt_orders")
    n = spark.sql("SELECT COUNT(*) AS n FROM tt_orders").collect()[0].n
    assert n == 230
    tt.register_txn_view(spark, table, "tt_orders_v1", version=1)
    assert spark.sql("SELECT COUNT(*) FROM tt_orders_v1").collect()[0][0] == 100

    tt.vacuum(table, retain_versions=1)
    assert tt.table_stats(table)["tombstoned_files"] == 0


def test_schema_enforcement_and_evolution(tmp_path, spark):
    root = str(tmp_path / "se")
    tt.write(_mk(spark, 0, 10), root)
    assert tt.table_schema(root) == [
        ["k", "bigint"], ["price", "double"], ["seg", "string"]
    ]
    # column type change -> rejected outright
    bad = spark.createDataFrame([Row(k="oops", price=1.0, seg="s")])
    with pytest.raises(tt.SchemaEnforcementError, match="type changed"):
        tt.write(bad, root)
    # extra column without merge_schema -> rejected
    wide = spark.createDataFrame([Row(k=50, price=2.0, seg="s", extra=7)])
    with pytest.raises(tt.SchemaEnforcementError, match="merge_schema"):
        tt.write(wide, root)
    # with merge_schema -> evolves; old rows read back with NULL extra
    tt.write(wide, root, merge_schema=True)
    assert tt.table_schema(root)[-1] == ["extra", "bigint"]
    df = tt.read(spark, root)
    assert df.count() == 11
    assert df.filter("extra IS NULL").count() == 10
    # overwrite always resets the schema
    tt.write(spark.createDataFrame([Row(a=1)]), root, mode="overwrite")
    assert tt.table_schema(root) == [["a", "bigint"]]


@pytest.mark.slow
def test_txn_datasource_batch_and_stream(tmp_path, spark):
    """The txn table as a registered Spark DataSource: batch snapshot
    scan (one partition per file, time travel via option) and a
    version-offset stream that delivers append commits exactly once
    and skips change commits."""
    from aws_datalake_spark.sources.txn_stream import register

    register(spark)
    root = str(tmp_path / "ds")
    tt.write(_mk(spark, 0, 50), root)                       # v1
    tt.write(_mk(spark, 100, 150), root)                    # v2

    batch = spark.read.format("txn_table").load(root)
    assert batch.count() == 100
    assert set(batch.columns) == {"k", "price", "seg"}
    v1 = spark.read.format("txn_table").option("version", "1").load(root)
    assert v1.count() == 50  # time travel through the source

    q = (
        spark.readStream.format("txn_table")
        .load(root)
        .writeStream.format("memory")
        .queryName("txn_feed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    assert spark.table("txn_feed").count() == 100  # both commits
    # an append between batches arrives incrementally...
    tt.write(_mk(spark, 200, 210), root)                    # v3
    q.processAllAvailable()
    assert spark.table("txn_feed").count() == 110
    # ...and a merge (data-changing) is skipped, not duplicated
    from pyspark.sql import Row
    tt.merge_upsert(spark, root,
                    spark.createDataFrame([Row(k=0, price=9.9, seg="u")]),
                    keys=["k"])                             # v4
    tt.write(_mk(spark, 300, 305), root)                    # v5
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    assert spark.table("txn_feed").count() == 115  # +v5 only, v4 skipped


def test_scd2_merge_txn_atomic_and_pruned(table, spark):
    """SCD2 on the log: close-out + insert in one commit; the
    non-intersecting file is untouched; inactive rows keep their
    original record_to."""
    from pyspark.sql import Row

    # give the fixture table SCD2 columns via overwrite
    base = _mk(spark, 0, 100).withColumn("actv_flg", F.lit("Y")).withColumn(
        "record_to", F.lit(None).cast("timestamp")
    )
    hi = _mk(spark, 1000, 1100).withColumn("actv_flg", F.lit("Y")).withColumn(
        "record_to", F.lit(None).cast("timestamp")
    )
    root = table + "_scd2"
    tt.write(base, root)
    tt.write(hi, root)
    staging = spark.createDataFrame(
        [Row(k=5, price=42.0, seg="u"), Row(k=7, price=43.0, seg="u")]
    )
    res = tt.scd2_merge_txn(
        spark, root, staging, keys=["k"],
        close_ts=F.lit("2024-06-01 00:00:00").cast("timestamp"),
    )
    assert res["rewritten"] == 1 and res["untouched"] == 1
    cur = tt.read(spark, root)
    assert cur.count() == 202  # 200 + 2 new versions
    k5 = {(r.actv_flg, r.price) for r in cur.filter("k = 5").collect()}
    assert k5 == {("N", 1.0), ("Y", 42.0)}
    # history: exactly one scd2-merge commit after the two appends
    assert [h["op"] for h in tt.history(root)] == [
        "append", "append", "scd2-merge"
    ]


def test_restore_rolls_back_linearly(table, spark):
    tt.write(_mk(spark, 9000, 9050), table, mode="overwrite")  # v3: bad load
    assert tt.read(spark, table).count() == 50
    v = tt.restore(table, 2)
    assert v == 4  # restore is a new commit, not history surgery
    assert tt.read(spark, table).count() == 200
    assert tt.table_schema(table) is not None
    # time travel into the bad state still works (audit trail intact)
    assert tt.read(spark, table, version=3).count() == 50
    # vacuumed restore target -> loud failure
    tt.vacuum(table, retain_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        tt.restore(table, 3)


def test_occ_commit_race_no_lost_updates(tmp_path):
    """8 threads blind-append 25 commits each: every commit must win
    a unique version (O_EXCL serialization), nothing lost, log
    contiguous — the publish.py/Delta OCC claim under a real race."""
    import threading

    root = str(tmp_path / "race")
    os.makedirs(os.path.join(root, "_txn_log"), exist_ok=True)
    errors = []

    def worker(wid: int) -> None:
        try:
            for i in range(25):
                tt._commit(root, "append",
                           [{"path": f"data/w{wid}_{i}.parquet",
                             "rows": 1, "stats": {}}], [])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    versions = tt._list_versions(root)
    assert versions == list(range(1, 201))  # contiguous, none lost
    snap = tt.snapshot(root)
    assert len(snap["files"]) == 200  # every add action survived


def test_fsck_detects_corruption(table, spark):
    rep = tt.fsck(table, verify_stats=True)
    assert rep["ok"] and rep["files_checked"] == 2
    # delete a live file behind the log's back -> loud report
    victim = sorted(tt.snapshot(table)["files"])[0]
    os.remove(os.path.join(table, victim))
    rep2 = tt.fsck(table)
    assert not rep2["ok"]
    assert any("missing" in p for p in rep2["problems"])


# ------------------------------------------------------- deletion vectors


def test_delete_dv_zero_rewrite_and_read(table, spark):
    before = set(tt.snapshot(table)["files"])
    res = tt.delete_where_dv(spark, table, "k % 10 = 0")
    assert res["rewritten"] == 0
    assert res["dv_rows_total"] == 20  # 10 per 100-row file
    assert res["files_with_dv"] == 2
    # every data file from before survives byte-identical (same paths)
    snap = tt.snapshot(table)
    assert set(snap["files"]) == before
    df = tt.read(spark, table)
    assert df.count() == 180
    assert df.filter(F.col("k") % 10 == 0).count() == 0
    # time travel to the pre-delete version still sees every row
    assert tt.read(spark, table, version=res["version"] - 1).count() == 200


def test_delete_dv_accumulates_and_respects_prune(table, spark):
    r1 = tt.delete_where_dv(spark, table, "k = 5")
    assert (r1["files_with_dv"], r1["dv_rows_total"]) == (1, 1)
    # second DV on the same file carries the first forward
    r2 = tt.delete_where_dv(spark, table, "k = 7")
    assert r2["dv_rows_total"] == 2
    assert tt.read(spark, table).count() == 198
    # stats-pruned delete never touches the disjoint file
    r3 = tt.delete_where_dv(spark, table, "k = 1000", prune={"k": (1000, 1000)})
    assert r3["files_with_dv"] == 1
    df = tt.read(spark, table)
    assert df.count() == 197
    assert df.filter(F.col("k").isin(5, 7, 1000)).count() == 0
    # no matching rows -> no commit
    v = tt.snapshot(table)["version"]
    r4 = tt.delete_where_dv(spark, table, "k = -1")
    assert r4["version"] == v and r4["files_with_dv"] == 0


def test_dv_stats_and_maintenance_surface(table, spark):
    tt.delete_where_dv(spark, table, "k < 30")  # 30 of 200 rows > 10%
    st = tt.table_stats(table)
    assert st["live_rows"] == 200 and st["dv_deleted_rows"] == 30
    assert st["logical_rows"] == 170 and st["files_with_dv"] == 1
    assert "purge_dv" in tt.plan_maintenance(table)
    assert tt.fsck(table)["ok"]


def test_purge_dv_materializes_and_vacuum_reclaims(table, spark):
    tt.delete_where_dv(spark, table, "k % 2 = 0")
    v = tt.purge_dv(spark, table)
    snap = tt.snapshot(table)
    assert snap["version"] == v
    assert not any(a.get("dv") for a in snap["files"].values())
    assert tt.read(spark, table).count() == 100
    # idempotent when no DVs remain
    assert tt.purge_dv(spark, table) == v
    # vacuum with retention 1 reclaims the orphaned dv dir + old files
    deleted = tt.vacuum(table, retain_versions=1)
    assert deleted > 0
    assert not os.path.isdir(os.path.join(table, "_dv")) or not os.listdir(
        os.path.join(table, "_dv")
    )
    assert tt.read(spark, table).count() == 100


def test_rewrites_apply_dv(table, spark):
    """merge/compact/scd2 read THROUGH deletion vectors: a rewrite
    must not resurrect dv-deleted rows."""
    tt.delete_where_dv(spark, table, "k = 2")
    # compact materializes the delete
    tt.compact(spark, table, target_files=1)
    df = tt.read(spark, table)
    assert df.count() == 199 and df.filter("k = 2").count() == 0
    # merge over a dv'd file keeps the deletion
    tt.delete_where_dv(spark, table, "k = 4")
    upd = spark.createDataFrame([Row(k=6, price=9.0, seg="s0")])
    tt.merge_upsert(spark, table, upd, keys=["k"])
    df = tt.read(spark, table)
    assert df.count() == 198
    assert df.filter("k = 4").count() == 0
    assert df.filter("k = 6").select("price").first()[0] == 9.0


def test_read_changes_skips_dv_commits(table, spark):
    v0 = tt.snapshot(table)["version"]
    tt.delete_where_dv(spark, table, "k = 1")
    tt.write(_mk(spark, 2000, 2010), table, mode="append")
    ch = tt.read_changes(spark, table, since_version=v0)
    # only the append's rows surface; the dv metadata commit adds none
    assert ch.count() == 10
    assert ch.select("_commit_op").distinct().first()[0] == "append"


# ---------------------------------------------------- hidden partitioning


def _mk_ts(spark, n=200):
    import datetime

    return spark.createDataFrame(
        [
            Row(
                k=i,
                ts=datetime.datetime(2024, 1 + (i % 6), 1 + (i % 27)),
                v=float(i),
            )
            for i in range(n)
        ]
    ).coalesce(1)


def test_hidden_partition_write_and_prune(tmp_path, spark):
    import zlib

    root = str(tmp_path / "hp")
    df = _mk_ts(spark)
    tt.write_partitioned(
        df, root, [("bucket", "k", 4), ("month", "ts")], mode="append"
    )
    spec = tt.table_partitioning(root)
    assert [tf[0] for tf in spec] == ["bucket", "month"]
    # partition columns are HIDDEN: readers see only source columns
    full = tt.read(spark, root)
    assert sorted(full.columns) == ["k", "ts", "v"]
    assert full.count() == 200
    # bucket equality pruning: only files in bucket(42)'s partitions open
    got = tt.read_partitioned(spark, root, eq={"k": 42})
    n_total = len(tt.snapshot(root)["files"])
    assert len(got.inputFiles()) <= n_total // 2
    assert got.filter("k = 42").count() == 1
    b = zlib.crc32(b"42") % 4
    assert all(
        a["partition"][f"_p_bucket4_k"] == b
        for a in tt.snapshot(root)["files"].values()
        if a["path"] in [f.split("hp/")[-1] for f in got.inputFiles()]
    )
    # month range pruning keeps only matching months, values intact
    import datetime

    lo, hi = datetime.datetime(2024, 2, 1), datetime.datetime(2024, 3, 31)
    got2 = tt.read_partitioned(spark, root, ranges={"ts": (lo, hi)})
    assert len(got2.inputFiles()) < n_total
    expect = full.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count()
    assert got2.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count() == expect


def test_hidden_partition_truncate_and_identity(tmp_path, spark):
    root = str(tmp_path / "tr")
    df = spark.createDataFrame(
        [Row(k=i, name=f"n{i % 7}x", v=float(i)) for i in range(100)]
    ).coalesce(1)
    tt.write_partitioned(
        df, root, [("truncate", "k", 25), ("identity", "name")]
    )
    # integer truncate parses back typed
    parts = {
        a["partition"]["_p_truncate25_k"]
        for a in tt.snapshot(root)["files"].values()
    }
    assert parts == {0, 25, 50, 75}
    got = tt.read_partitioned(spark, root, ranges={"k": (30, 49)})
    assert len(got.inputFiles()) < len(tt.snapshot(root)["files"])
    assert got.filter("k between 30 and 49").count() == 20
    got2 = tt.read_partitioned(spark, root, eq={"name": "n3x"})
    assert got2.filter("name = 'n3x'").count() > 0
    assert len(got2.inputFiles()) < len(tt.snapshot(root)["files"])


def test_hidden_partition_survives_compact_and_dv(tmp_path, spark):
    root = str(tmp_path / "cd")
    tt.write_partitioned(_mk_ts(spark), root, [("bucket", "k", 4)])
    # DVs work on nested partition paths
    res = tt.delete_where_dv(spark, root, "k % 50 = 0")
    assert res["rewritten"] == 0 and res["dv_rows_total"] == 4
    assert tt.read(spark, root).count() == 196
    pruned = tt.read_partitioned(spark, root, eq={"k": 42})
    assert pruned.filter("k = 42").count() == 1
    # compact RESPECTS the transform spec: files stay partition-pure,
    # the DV materializes, and partition pruning keeps working
    tt.compact(spark, root, target_files=1)
    snap = tt.snapshot(root)
    assert all("partition" in a for a in snap["files"].values())
    assert tt.read(spark, root).count() == 196
    after = tt.read_partitioned(spark, root, eq={"k": 42})
    assert len(after.inputFiles()) < len(snap["files"])
    assert after.filter("k = 42").count() == 1


# -------------------------------------------------------- bloom file index


def test_bloom_index_prunes_unclustered_key(tmp_path, spark):
    root = str(tmp_path / "bl")
    # 4 hash-sharded files: every file spans the full k range (stats
    # useless) but holds only k % 4 == shard keys (bloom decisive)
    for shard in range(4):
        tt.write(
            spark.createDataFrame(
                [Row(k=i, v=float(i)) for i in range(1000) if i % 4 == shard]
            ).coalesce(1),
            root, mode="append",
        )
    v = tt.build_bloom_index(spark, root, "k")
    assert tt.snapshot(root)["version"] == v
    got = tt.bloom_lookup(spark, root, "k", 42)
    assert len(got.inputFiles()) == 1  # only shard 2's file survives
    assert got.filter("k = 42").count() == 1
    # absent key: bloom may false-positive a file, never lose the row
    miss = tt.bloom_lookup(spark, root, "k", 10**9)
    assert miss.filter("k = 1000000000").count() == 0
    # rebuild is a no-op commit-wise
    assert tt.build_bloom_index(spark, root, "k") == v


def test_bloom_survives_rewrite_degrades_gracefully(tmp_path, spark):
    root = str(tmp_path / "bl2")
    for shard in range(2):
        tt.write(
            spark.createDataFrame(
                [Row(k=i, v=float(i)) for i in range(100) if i % 2 == shard]
            ).coalesce(1),
            root, mode="append",
        )
    tt.build_bloom_index(spark, root, "k")
    # compact rewrites -> new file has no bloom -> lookup still correct
    tt.compact(spark, root, target_files=1)
    got = tt.bloom_lookup(spark, root, "k", 7)
    assert got.filter("k = 7").count() == 1
    # fsck stays green with bloom metadata present in history
    assert tt.fsck(root)["ok"]


def test_bloom_composes_with_dv(tmp_path, spark):
    root = str(tmp_path / "bl3")
    for shard in range(2):
        tt.write(
            spark.createDataFrame(
                [Row(k=i, v=float(i)) for i in range(100) if i % 2 == shard]
            ).coalesce(1),
            root, mode="append",
        )
    tt.build_bloom_index(spark, root, "k")
    tt.delete_where_dv(spark, root, "k = 8")
    got = tt.bloom_lookup(spark, root, "k", 8)
    assert got.filter("k = 8").count() == 0  # dv applied inside lookup
    assert tt.bloom_lookup(spark, root, "k", 10).filter("k = 10").count() == 1


# ------------------------------------------------------- equality deletes


def test_delete_eq_zero_io_and_sequence_semantics(table, spark):
    # metadata-only commit: no data file read or written
    files_before = set(tt.snapshot(table)["files"])
    res = tt.delete_where_eq(
        spark, table, spark.createDataFrame([(5,), (7,), (1000,)], "k long")
    )
    assert res["rewritten"] == 0
    snap = tt.snapshot(table)
    assert set(snap["files"]) == files_before
    assert len(snap["eq_deletes"]) == 1
    df = tt.read(spark, table)
    assert df.count() == 197
    assert df.filter(F.col("k").isin(5, 7, 1000)).count() == 0
    # SEQUENCE semantics: re-appending a deleted key resurrects it —
    # the new file's sequence number is newer than the delete's
    tt.write(
        spark.createDataFrame([Row(k=5, price=2.0, seg="s0")]).coalesce(1),
        table, mode="append",
    )
    df2 = tt.read(spark, table)
    assert df2.filter("k = 5").count() == 1
    assert df2.filter("k = 5").select("price").first()[0] == 2.0
    assert df2.count() == 198
    # time travel to before the delete sees every original row
    assert tt.read(spark, table, version=2).count() == 200


def test_delete_eq_composes_with_dv_and_purge(table, spark):
    tt.delete_where_dv(spark, table, "k = 10")
    tt.delete_where_eq(spark, table, spark.createDataFrame([(20,)], "k long"))
    df = tt.read(spark, table)
    assert df.count() == 198
    assert df.filter(F.col("k").isin(10, 20)).count() == 0
    # purge materializes both delete kinds; reads stay identical
    v = tt.purge_deletes(spark, table)
    snap = tt.snapshot(table)
    assert snap["version"] == v
    assert not any(a.get("dv") for a in snap["files"].values())
    after = tt.read(spark, table)
    assert after.count() == 198
    assert after.filter(F.col("k").isin(10, 20)).count() == 0
    # all files now postdate the eq delete -> vacuum reclaims its set
    assert tt.fsck(table)["ok"]
    tt.vacuum(table, retain_versions=1)
    assert not os.path.isdir(os.path.join(table, "_eqdel")) or not os.listdir(
        os.path.join(table, "_eqdel")
    )
    assert tt.read(spark, table).count() == 198


def test_delete_eq_checkpoint_and_rewrite_interplay(table, spark):
    tt.delete_where_eq(spark, table, spark.createDataFrame([(3,)], "k long"))
    tt.checkpoint_log(table)
    # snapshot built FROM the checkpoint still carries the delete
    assert len(tt.snapshot(table)["eq_deletes"]) == 1
    assert tt.read(spark, table).filter("k = 3").count() == 0
    # merge over the affected file materializes the delete for it
    tt.merge_upsert(
        spark, table,
        spark.createDataFrame([Row(k=50, price=9.0, seg="u")]), keys=["k"],
    )
    df = tt.read(spark, table)
    assert df.filter("k = 3").count() == 0
    assert df.filter("k = 50").select("price").first()[0] == 9.0


# ------------------------------------------------------- typed change feed


def test_typed_cdf_insert_update_delete(table, spark):
    v0 = tt.snapshot(table)["version"]
    tt.write(_mk(spark, 2000, 2003), table, mode="append")          # 3 inserts
    tt.merge_upsert(
        spark, table,
        spark.createDataFrame([Row(k=2000, price=5.0, seg="u")]),
        keys=["k"],
    )                                                                # 1 update
    ch = tt.read_changes_typed(spark, table, since_version=v0)
    ins = ch.filter("_change_type = 'insert'")
    dels = ch.filter("_change_type = 'delete'")
    # append: 3 inserts; merge: delete(preimage) + insert(postimage)
    # for k=2000 ONLY — carried-over rows cancel in the diff
    assert ins.filter("_commit_op = 'append'").count() == 3
    m_ins = ins.filter("_commit_op = 'merge'").collect()
    m_del = dels.filter("_commit_op = 'merge'").collect()
    assert len(m_ins) == 1 and m_ins[0].k == 2000 and m_ins[0].price == 5.0
    assert len(m_del) == 1 and m_del[0].k == 2000 and m_del[0].price == 1.0


def test_typed_cdf_dv_eq_and_storage_ops_silent(table, spark):
    v0 = tt.snapshot(table)["version"]
    tt.delete_where_dv(spark, table, "k IN (3, 4)")
    tt.delete_where_eq(spark, table, spark.createDataFrame([(1005,)], "k long"))
    ch = tt.read_changes_typed(spark, table, since_version=v0)
    assert ch.filter("_change_type = 'insert'").count() == 0
    got = {
        (r.k, r._commit_op)
        for r in ch.filter("_change_type = 'delete'").collect()
    }
    assert got == {(3, "delete-dv"), (4, "delete-dv"), (1005, "delete-eq")}
    # a second dv on the same file reports only the NEW positions
    v1 = tt.snapshot(table)["version"]
    tt.delete_where_dv(spark, table, "k IN (3, 6)")  # 3 already deleted
    ch2 = tt.read_changes_typed(spark, table, since_version=v1)
    assert {r.k for r in ch2.collect()} == {6}
    # compaction reshapes storage but changes no logical rows
    v2 = tt.snapshot(table)["version"]
    tt.compact(spark, table, target_files=1)
    ch3 = tt.read_changes_typed(spark, table, since_version=v2)
    assert ch3.count() == 0


def test_typed_cdf_eq_reappend_orders_correctly(table, spark):
    v0 = tt.snapshot(table)["version"]
    tt.delete_where_eq(spark, table, spark.createDataFrame([(7,)], "k long"))
    tt.write(
        spark.createDataFrame([Row(k=7, price=3.0, seg="x")]).coalesce(1),
        table, mode="append",
    )
    ch = tt.read_changes_typed(spark, table, since_version=v0).orderBy(
        "_commit_version"
    )
    rows = [(r.k, r._change_type, r.price) for r in ch.collect()]
    assert rows == [(7, "delete", 1.0), (7, "insert", 3.0)]


# --------------------------------------------- constraints + ts time travel


@pytest.mark.slow
def test_check_constraints_refuse_bad_batches(table, spark):
    tt.add_constraint(table, "price_positive", "price > 0")
    tt.add_constraint(table, "k_not_null", "k IS NOT NULL")
    assert set(tt.table_constraints(table)) == {"price_positive", "k_not_null"}
    # clean batch commits
    v = tt.write(_mk(spark, 3000, 3005, price=2.0), table, mode="append")
    assert tt.snapshot(table)["version"] == v
    # violating append is refused atomically: nothing became visible
    with pytest.raises(tt.ConstraintViolation, match="price_positive"):
        tt.write(_mk(spark, 4000, 4005, price=-1.0), table, mode="append")
    assert tt.read(spark, table).filter("k >= 4000").count() == 0
    # NULL predicate result counts as a violation (SQL CHECK semantics
    # differ; refuse-on-unknown is the safe lakehouse default)
    with pytest.raises(tt.ConstraintViolation):
        tt.write(
            spark.createDataFrame(
                [Row(k=None, price=1.0, seg="s0")],
                "k long, price double, seg string",
            ),
            table, mode="append",
        )
    # merge enforces on the updates batch too
    with pytest.raises(tt.ConstraintViolation):
        tt.merge_upsert(
            spark, table,
            spark.createDataFrame([Row(k=1, price=-5.0, seg="u")]),
            keys=["k"],
        )
    # dropped constraint stops enforcement
    tt.drop_constraint(table, "price_positive")
    tt.write(_mk(spark, 5000, 5002, price=-1.0), table, mode="append")
    assert tt.read(spark, table).filter("k >= 5000").count() == 2


def test_timestamp_time_travel(table, spark):
    import time as _time

    v2_ts = tt._read_commit(table, 2)["ts"]
    _time.sleep(0.05)
    tt.write(_mk(spark, 6000, 6010), table, mode="append")
    # resolve to the pre-append version by its commit timestamp
    assert tt.version_at_timestamp(table, v2_ts) == 2
    assert tt.read(spark, table, timestamp=v2_ts).count() == 200
    assert tt.read(spark, table).count() == 210
    with pytest.raises(ValueError):
        tt.version_at_timestamp(table, 0.0)  # before the first commit
    with pytest.raises(ValueError):
        tt.read(spark, table, version=1, timestamp=v2_ts)


def test_stream_merge_sink_keyed_exactly_once(tmp_path, spark):
    """CDC-style streaming upserts: per micro-batch one file-pruned
    keyed merge, last-row-per-key within a batch, replays no-op."""
    src = str(tmp_path / "cdc_src")
    root = str(tmp_path / "cdc_sink")
    tt.write(_mk(spark, 0, 100), root)  # seed dimension
    spark.createDataFrame(
        [(5, 50.0, "u"), (5, 51.0, "u"), (200, 1.0, "n")],
        "k long, price double, seg string",
    ).coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("k long, price double, seg string").json(src)
    q = (
        stream.writeStream.foreachBatch(tt.stream_merge_sink(root, ["k"]))
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    df = tt.read(spark, root)
    assert df.count() == 101  # 100 seed + 1 new key
    # last row per key within the batch won
    assert df.filter("k = 5").select("price").first()[0] == 51.0
    assert df.filter("k = 200").count() == 1
    v = tt.snapshot(root)["version"]
    # replayed batch id: no-op
    tt.stream_merge_sink(root, ["k"])(
        spark.createDataFrame([(5, 99.0, "x")], "k long, price double, seg string"),
        0,
    )
    assert tt.snapshot(root)["version"] == v
    assert tt.read(spark, root).filter("k = 5").select("price").first()[0] == 51.0


# --------------------------------------------------------- column mapping


def test_rename_drop_without_rewrite(table, spark):
    files_before = set(tt.snapshot(table)["files"])
    tt.rename_column(table, "price", "unit_price")
    tt.drop_column(table, "seg")
    # zero files rewritten
    assert set(tt.snapshot(table)["files"]) == files_before
    df = tt.read(spark, table)
    assert sorted(df.columns) == ["k", "unit_price"]
    assert df.filter("k = 5").select("unit_price").first()[0] == 1.0
    # time travel shows the version under ITS OWN names
    old = tt.read(spark, table, version=2)
    assert sorted(old.columns) == ["k", "price", "seg"]
    # writes speak the NEW logical schema and land physically aligned
    tt.write(
        spark.createDataFrame([(9000, 3.0)], "k long, unit_price double"),
        table, mode="append",
    )
    df2 = tt.read(spark, table)
    assert df2.count() == 201
    assert df2.filter("k = 9000").select("unit_price").first()[0] == 3.0
    # merges translate keys + columns through the mapping
    tt.merge_upsert(
        spark, table,
        spark.createDataFrame([(9000, 4.0)], "k long, unit_price double"),
        keys=["k"],
    )
    assert tt.read(spark, table).filter("k = 9000").select(
        "unit_price"
    ).first()[0] == 4.0
    # unknown logical name is refused
    with pytest.raises(tt.SchemaEnforcementError):
        tt.write(
            spark.createDataFrame([(1, 1.0)], "k long, price double"),
            table, mode="append",
        )
    with pytest.raises(ValueError):
        tt.rename_column(table, "nope", "x")


def test_mapping_composes_with_deletes_and_compact(table, spark):
    tt.rename_column(table, "price", "unit_price")
    tt.delete_where_dv(spark, table, "k = 3")  # physical predicate
    df = tt.read(spark, table)
    assert df.count() == 199 and "unit_price" in df.columns
    tt.compact(spark, table, target_files=1)
    df2 = tt.read(spark, table)
    assert df2.count() == 199
    assert sorted(df2.columns) == ["k", "seg", "unit_price"]


# ------------------------------------------------ metadata tables + evolution


def test_metadata_tables_files_history_snapshots(table, spark):
    tt.delete_where_dv(spark, table, "k = 1")
    files = tt.metadata_df(spark, table, "files")
    assert files.count() == 2
    assert files.filter("has_dv").count() == 1
    assert files.filter("dv_rows = 1").count() == 1
    assert {r.sequence for r in files.collect()} == {1, 2}
    hist = tt.metadata_df(spark, table, "history")
    assert [r.op for r in hist.orderBy("version").collect()] == [
        "append", "append", "delete-dv",
    ]
    assert hist.filter("op = 'append'").agg(
        F.sum("rows_added")
    ).first()[0] == 200
    snaps = tt.metadata_df(spark, table, "snapshots").orderBy("version")
    got = [(r.version, r.live_files, r.rows, r.dv_rows) for r in snaps.collect()]
    assert got == [(1, 1, 100, 0), (2, 2, 200, 0), (3, 2, 200, 1)]
    # SQL surface
    files.createOrReplaceTempView("t_files")
    assert spark.sql("SELECT COUNT(*) FROM t_files WHERE dv_rows > 0").first()[0] == 1


def test_partition_spec_evolution(tmp_path, spark):
    """Iceberg partition evolution: a later write can declare a NEW
    transform spec; old files keep their old partition metadata and
    prune by footer stats, new files prune by the new transforms —
    reads stay correct across generations."""
    root = str(tmp_path / "ev")
    old = spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(100)]
    ).coalesce(1)
    tt.write_partitioned(old, root, [("truncate", "k", 50)])
    new = spark.createDataFrame(
        [Row(k=1000 + i, v=float(i)) for i in range(100)]
    ).coalesce(1)
    tt.write_partitioned(new, root, [("bucket", "k", 4)], mode="append")
    assert [tf[0] for tf in tt.table_partitioning(root)] == ["bucket"]
    # a bucket-key lookup prunes NEW-generation files by transform
    # and old-generation files by stats, losing no rows
    got = tt.read_partitioned(spark, root, eq={"k": 1042})
    assert got.filter("k = 1042").count() == 1
    assert len(got.inputFiles()) < len(tt.snapshot(root)["files"])
    got2 = tt.read_partitioned(spark, root, eq={"k": 42})
    assert got2.filter("k = 42").count() == 1
    assert tt.read(spark, root).count() == 200


def test_metadata_ops_require_existing_table(tmp_path, spark):
    """Constraint/eq-delete/rename commits on a nonexistent table
    must fail loudly instead of conjuring an empty log."""
    ghost = str(tmp_path / "ghost")
    with pytest.raises(FileNotFoundError):
        tt.add_constraint(ghost, "c", "x > 0")
    with pytest.raises(FileNotFoundError):
        tt.delete_where_eq(spark, ghost, spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(FileNotFoundError):
        tt.rename_column(ghost, "a", "b")
    assert not os.path.exists(os.path.join(ghost, "_txn_log"))


# ------------------------------------------------- review-fix regressions


def test_purge_dv_does_not_resurrect_eq_deleted_rows(table, spark):
    tt.delete_where_eq(spark, table, spark.createDataFrame([(7,)], "k long"))
    tt.delete_where_dv(spark, table, "k = 9")
    tt.purge_dv(spark, table)  # rewrites the dv'd file with a NEW seq number
    df = tt.read(spark, table)
    assert df.filter("k = 7").count() == 0  # eq delete materialized, not lost
    assert df.filter("k = 9").count() == 0
    assert df.count() == 198


def test_bloom_index_commit_is_silent_in_cdc(table, spark):
    v0 = tt.snapshot(table)["version"]
    tt.build_bloom_index(spark, table, "k")
    tt.write(_mk(spark, 8000, 8005), table, mode="append")
    ch = tt.read_changes(spark, table, since_version=v0)
    assert ch.count() == 5  # only the append; the index re-add is silent
    typed = tt.read_changes_typed(spark, table, since_version=v0)
    assert typed.count() == 5
    assert typed.select("_change_type").distinct().first()[0] == "insert"


def test_merge_schema_cannot_reuse_freed_physical_name(table, spark):
    tt.rename_column(table, "price", "unit_price")
    with pytest.raises(tt.SchemaEnforcementError, match="physical name"):
        tt.write(
            spark.createDataFrame(
                [(1, 1.0, "s0", 9.9)],
                "k long, unit_price double, seg string, price double",
            ),
            table, mode="append", merge_schema=True,
        )


def test_vacuum_reclaims_nested_partition_files(tmp_path, spark):
    root = str(tmp_path / "vp")
    tt.write_partitioned(_mk_ts(spark, 50), root, [("bucket", "k", 2)])
    n_old = len(tt.snapshot(root)["files"])
    tt.write_partitioned(
        _mk_ts(spark, 50), root, [("bucket", "k", 2)], mode="overwrite"
    )
    deleted = tt.vacuum(root, retain_versions=1)
    assert deleted >= n_old  # the overwritten NESTED files reclaimed
    assert tt.read(spark, root).count() == 50


def test_rename_blocked_by_referencing_constraint(table, spark):
    tt.add_constraint(table, "pp", "price > 0")
    with pytest.raises(ValueError, match="CHECK constraint"):
        tt.rename_column(table, "price", "unit_price")
    tt.drop_constraint(table, "pp")
    tt.rename_column(table, "price", "unit_price")  # now fine
    assert "unit_price" in tt.read(spark, table).columns


def test_identity_partition_on_int_column_prunes_typed(tmp_path, spark):
    root = str(tmp_path / "idp")
    df = spark.createDataFrame(
        [Row(k=i, g=i % 3, v=float(i)) for i in range(90)]
    ).coalesce(1)
    tt.write_partitioned(df, root, [("identity", "g")])
    got = tt.read_partitioned(spark, root, eq={"g": 1})
    assert len(got.inputFiles()) < len(tt.snapshot(root)["files"])
    assert got.filter("g = 1").count() == 30
    # integer range over the identity partition works (typed values)
    rng = tt.read_partitioned(spark, root, ranges={"g": (1, 2)})
    assert rng.filter("g between 1 and 2").count() == 60


def test_describe_table_one_call_summary(table, spark):
    tt.add_constraint(table, "pp", "price > 0")
    tt.rename_column(table, "seg", "segment")
    tt.delete_where_dv(spark, table, "k = 1")
    tt.delete_where_eq(spark, table, spark.createDataFrame([(2,)], "k long"))
    d = tt.describe_table(table)
    assert d["live_files"] == 2 and d["live_rows"] == 200
    assert d["dv_deleted_rows"] == 1 and d["eq_deletes"] == 1
    assert d["constraints"] == {"pp": "price > 0"}
    assert d["column_mapping"] == {"segment": "seg"}
    assert d["partitioning"] is None
    assert isinstance(d["maintenance"], list)
