"""Incremental materialized-view maintenance over the txn table:
dirty-group detection from the commit log, stats-pruned recompute,
vanished-group deletion, vacuum fallback to full refresh."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from aws_datalake_spark.sources import mv, txn_table as tt


def _rows(spark, lo, hi, grp=lambda i: i % 10):
    return spark.createDataFrame(
        [Row(k=i, g=grp(i), v=float(i)) for i in range(lo, hi)]
    ).coalesce(1)


def _expected(spark, src):
    return (
        tt.read(spark, src)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.max("v").alias("mx"),
        )
    )


def _same(a, b):
    return sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_mv_incremental_append_touches_only_changed_groups(tmp_path, spark):
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    tt.write(_rows(spark, 0, 1000), src)
    res = mv.mv_create(
        spark, src, root, ["g"],
        {"n": ("count",), "sv": ("sum", "v"), "mx": ("max", "v")},
    )
    assert res["groups"] == 10
    # append rows hitting only groups 0 and 1
    tt.write(
        spark.createDataFrame(
            [Row(k=10_000 + i, g=i % 2, v=99.0) for i in range(20)]
        ).coalesce(1),
        src, mode="append",
    )
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "incremental"
    assert r["dirty_groups"] == 2  # NOT all 10
    assert _same(mv.mv_read(spark, root), _expected(spark, src))
    # noop when already current
    assert mv.mv_refresh(spark, root)["mode"] == "noop"


def test_mv_handles_merge_dv_delete_and_vanished_groups(tmp_path, spark):
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    # two files with disjoint g ranges so dirtiness stays file-local
    tt.write(_rows(spark, 0, 500, grp=lambda i: i % 5), src)
    tt.write(_rows(spark, 1000, 1500, grp=lambda i: 5 + i % 5), src)
    mv.mv_create(
        spark, src, root, ["g"],
        {"n": ("count",), "sv": ("sum", "v"), "mx": ("max", "v")},
    )
    # merge_upsert changes rows in the first file only
    tt.merge_upsert(
        spark, src,
        spark.createDataFrame([Row(k=3, g=3, v=777.0)]), keys=["k"],
    )
    r1 = mv.mv_refresh(spark, root)
    assert r1["mode"] == "incremental"
    assert _same(mv.mv_read(spark, root), _expected(spark, src))
    # max is recomputed correctly under a deletion-vector delete —
    # the case pure delta maintenance cannot handle
    tt.delete_where_dv(spark, src, "v = 777.0")
    r2 = mv.mv_refresh(spark, root)
    assert r2["mode"] == "incremental"
    assert _same(mv.mv_read(spark, root), _expected(spark, src))
    # wipe out every row of group 7 -> group leaves the MV
    tt.delete_where_dv(spark, src, "g = 7")
    r3 = mv.mv_refresh(spark, root)
    assert r3["gone_groups"] == 1
    got = mv.mv_read(spark, root)
    assert got.filter("g = 7").count() == 0
    assert _same(got, _expected(spark, src))


def test_mv_falls_back_to_full_after_vacuum(tmp_path, spark):
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    tt.write(_rows(spark, 0, 100), src)
    mv.mv_create(spark, src, root, ["g"], {"n": ("count",)})
    tt.write(_rows(spark, 100, 200), src, mode="overwrite")
    tt.vacuum(src, retain_versions=1)  # removed file physically gone
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "full"
    assert _same(mv.mv_read(spark, root), _expected(spark, src).select("g", "n"))


def test_mv_maintained_sink_streaming_live_table(tmp_path, spark):
    """Streamed txn appends + per-batch MV refresh: after every
    micro-batch the view equals a from-scratch recompute, and a
    replayed batch changes nothing (exactly-once end to end)."""
    src_stream = str(tmp_path / "stream_src")
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(50)], "k long, g long, v double"
    ).coalesce(1).write.mode("overwrite").json(src_stream)
    # seed the table + view with an initial batch so mv_create has data
    tt.write(_rows(spark, 1000, 1010, grp=lambda i: i % 5), src)
    mv.mv_create(
        spark, src, root, ["g"], {"n": ("count",), "sv": ("sum", "v")}
    )
    stream = spark.readStream.schema("k long, g long, v double").json(src_stream)
    q = (
        stream.writeStream.foreachBatch(mv.mv_maintained_sink(src, root))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(
        [(100 + i, i % 2, 7.0) for i in range(10)], "k long, g long, v double"
    ).coalesce(1).write.mode("append").json(src_stream)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    got = mv.mv_read(spark, root).select("g", "n", "sv")
    want = (
        tt.read(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    assert _same(got, want)
    # replay batch 0 by hand: both halves must no-op
    v = tt.snapshot(src)["version"]
    replay = spark.createDataFrame(
        [(0, 0, 0.0)], "k long, g long, v double"
    )
    mv.mv_maintained_sink(src, root)(replay, 0)
    assert tt.snapshot(src)["version"] == v
    assert _same(mv.mv_read(spark, root).select("g", "n", "sv"), want)


def test_mv_eq_delete_dirty_precision(tmp_path, spark):
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    tt.write(_rows(spark, 0, 1000), src)
    mv.mv_create(
        spark, src, root, ["g"],
        {"n": ("count",), "sv": ("sum", "v"), "mx": ("max", "v")},
    )
    # equality delete ON the group column: only named groups go dirty
    tt.delete_where_eq(spark, src, spark.createDataFrame([(3,)], "g long"))
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "incremental" and r["dirty_groups"] == 1
    assert r["gone_groups"] == 1
    got = mv.mv_read(spark, root)
    assert got.filter("g = 3").count() == 0
    assert _same(got, _expected(spark, src))
    # equality delete on a NON-group column: conservatively dirties
    # every old-enough file, still correct
    tt.delete_where_eq(spark, src, spark.createDataFrame([(17,)], "k long"))
    r2 = mv.mv_refresh(spark, root)
    assert r2["mode"] == "incremental"
    assert _same(mv.mv_read(spark, root), _expected(spark, src))


def test_mv_refresh_noop_on_metadata_only_commits(tmp_path, spark):
    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    tt.write(_rows(spark, 0, 100), src)
    mv.mv_create(spark, src, root, ["g"], {"n": ("count",)})
    tt.add_constraint(src, "pos", "v >= 0")  # metadata-only commit
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "incremental" and r["dirty_groups"] == 0
    assert _same(mv.mv_read(spark, root), _expected(spark, src).select("g", "n"))


def test_mv_vanished_group_with_quoted_string_key(tmp_path, spark):
    from pyspark.sql import Row

    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    tt.write(
        spark.createDataFrame(
            [Row(k=i, g="O'Brien" if i < 5 else "plain", v=float(i))
             for i in range(10)]
        ).coalesce(1),
        src,
    )
    mv.mv_create(spark, src, root, ["g"], {"n": ("count",)})
    tt.delete_where_dv(spark, src, "g = 'O''Brien'")
    r = mv.mv_refresh(spark, root)
    assert r["gone_groups"] == 1
    got = mv.mv_read(spark, root)
    assert got.count() == 1 and got.first()["g"] == "plain"


def _dated_view(tmp_path, spark):
    """A view grouped on a DATE column over two files with disjoint
    date ranges: footer stats hold the bounds as ISO strings."""
    import datetime

    src = str(tmp_path / "src")
    root = str(tmp_path / "mv")
    day = lambda i: datetime.date(2024, 1, 1) + datetime.timedelta(days=i)  # noqa: E731
    for lo in (0, 100):
        tt.write(spark.createDataFrame(
            [Row(k=i, g=day(lo + i % 5), v=float(i)) for i in range(lo, lo + 50)]
        ).coalesce(1), src)
    mv.mv_create(spark, src, root, ["g"],
                 {"n": ("count",), "sv": ("sum", "v"), "mx": ("max", "v")})
    return src, root


def test_mv_date_keyed_partial_delete(tmp_path, spark):
    src, root = _dated_view(tmp_path, spark)
    tt.delete_where_dv(spark, src, "k = 3")  # group 2024-01-04 survives
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "incremental"
    assert r["dirty_groups"] == 1 and r["gone_groups"] == 0
    assert _same(mv.mv_read(spark, root), _expected(spark, src))


def test_mv_date_keyed_all_dirty_groups_vanish(tmp_path, spark):
    src, root = _dated_view(tmp_path, spark)
    tt.delete_where_dv(spark, src, "g = DATE'2024-04-11'")  # day 101
    r = mv.mv_refresh(spark, root)
    assert r["mode"] == "incremental"
    assert r["dirty_groups"] == 1 and r["gone_groups"] == 1
    got = mv.mv_read(spark, root)
    assert got.count() == 9
    assert _same(got, _expected(spark, src))
