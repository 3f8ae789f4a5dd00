"""Sources & sinks: format contracts, zones, config store."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from aws_datalake_spark.sources.readers import (
    read_csv_inferred,
    read_json_docs,
    read_pipe_staging,
    read_tsv,
)
from aws_datalake_spark.sources.writers import (
    write_date_partitioned,
    write_json,
    write_pipe_csv,
)
from aws_datalake_spark.sources.zones import ZonePaths, copy_zone, discover_datasets


def _sample(spark):
    return spark.createDataFrame(
        [(1, "a|b", datetime.datetime(2024, 1, 2, 3, 4, 5)), (2, None, datetime.datetime(2024, 1, 3, 0, 0, 0))],
        "id long, name string, ts timestamp",
    )


def test_pipe_csv_roundtrip_quoting_and_ts(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "pipe")
    write_pipe_csv(df, path)
    back = read_pipe_staging(spark, path, schema="id long, name string, ts timestamp")
    rows = {r.id: r for r in back.collect()}
    assert rows[1].name == "a|b"  # quoted despite pipe in value
    assert rows[1].ts == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[2].name is None


def test_json_roundtrip(spark, tmp_path):
    df = _sample(spark).drop("ts")
    path = str(tmp_path / "json")
    write_json(df, path)
    back = read_json_docs(spark, path, schema="id long, name string", multi_line=False)
    assert {r.id for r in back.collect()} == {1, 2}


def test_date_partitioned_layout_and_pruning(spark, tmp_path):
    df = _sample(spark)
    path = str(tmp_path / "part")
    write_date_partitioned(df, path, "ts")
    import os

    assert os.path.isdir(f"{path}/year=2024/month=01/day=02")  # zero-padded
    back = spark.read.parquet(path).filter("day = '02'")
    assert back.count() == 1


def test_tsv_and_inferred_csv(spark, tmp_path):
    p1 = tmp_path / "x.tsv"
    p1.write_text("a\tb\n1\t2\n")
    out = read_tsv(spark, str(p1)).collect()
    assert out[0].a == 1 and out[0].b == 2
    p2 = tmp_path / "y.csv"
    p2.write_text("a,b\n1,z\n")
    out2 = read_csv_inferred(spark, str(p2)).collect()
    assert out2[0].a == 1 and out2[0].b == "z"


def test_zone_paths_and_copy(spark, tmp_path):
    zp = ZonePaths(str(tmp_path))
    src, dst = zp.promote("raw", "orders")
    assert src.endswith("raw/orders") and dst.endswith("cleansed/orders")
    _sample(spark).write.parquet(src)
    copy_zone(spark, src, dst)
    assert spark.read.parquet(dst).count() == 2
    assert "orders" in discover_datasets(zp.path("raw", ""))


def test_paginated_api_datasource(spark):
    from aws_datalake_spark.sources.paginated import register

    register(spark)
    df = (
        spark.read.format("paged_api")
        .option("total_rows", 250)
        .option("page_size", 40)
        .load()
    )
    assert df.count() == 250
    assert df.rdd.getNumPartitions() == 7  # ceil(250/40) page partitions
    # S2: server-side predicate — PAUSED rows never leave the source
    active = (
        spark.read.format("paged_api")
        .option("total_rows", 250)
        .option("active_only", "true")
        .load()
    )
    assert active.count() == 250 - len([i for i in range(250) if i % 3 == 0])
    # S3: keyed scan
    keyed = (
        spark.read.format("paged_api")
        .option("total_rows", 250)
        .option("keys", "1,5,7")
        .load()
    )
    assert sorted(r.id for r in keyed.collect()) == [1, 5, 7]


def test_orc_roundtrip_identity(spark, tmp_path):
    from aws_datalake_spark.sources.readers import read_orc
    from aws_datalake_spark.sources.writers import write_orc

    df = _sample(spark)
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert sorted((r.id, r.name) for r in back.collect()) == sorted(
        (r.id, r.name) for r in df.collect()
    )


def test_permissive_csv_captures_corrupt_records(spark, tmp_path):
    from aws_datalake_spark.sources.readers import read_csv_permissive

    p = tmp_path / "bad.csv"
    p.write_text("id,qty\n1,10\n2,not_a_number\n3,30\n")
    df = read_csv_permissive(spark, str(p), "id long, qty long")
    rows = df.collect()
    good = {r.id: r.qty for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {1: 10, 3: 30}
    assert bad == ["2,not_a_number"]


# --- cross-table atomic publish (loading.py:2137 single-commit parity) --------


def test_publish_all_or_nothing_across_tables(spark, tmp_path):
    from aws_datalake_spark.sources import txn_table as tt
    from aws_datalake_spark.sources.publish import (
        current_manifest,
        publish_txn,
        read_published,
        rollback,
    )

    root = str(tmp_path / "lake")
    ta, tb = os.path.join(root, "ta"), os.path.join(root, "tb")
    a1 = spark.createDataFrame([(1, "a")], "id long, v string")
    b1 = spark.createDataFrame([(10, "x")], "id long, v string")
    tt.write(a1, ta)
    tt.write(b1, tb)
    # nothing visible before the first publish
    assert current_manifest(root)["tables"] == {}
    v1 = publish_txn(root, {"ta": None, "tb": None})
    assert read_published(spark, root, "ta").collect() == a1.collect()
    assert read_published(spark, root, "tb").collect() == b1.collect()

    # commit version 2 of BOTH tables, publish NOTHING yet: readers
    # still see version 1 of both (no intermediate state)
    a2 = spark.createDataFrame([(2, "a2")], "id long, v string")
    b2 = spark.createDataFrame([(20, "x2")], "id long, v string")
    tt.write(a2, ta, mode="overwrite")
    tt.write(b2, tb, mode="overwrite")
    assert read_published(spark, root, "ta").collect() == a1.collect()
    assert read_published(spark, root, "tb").collect() == b1.collect()

    # one flip makes both visible together
    v2 = publish_txn(root, {"ta": None, "tb": None})
    assert read_published(spark, root, "ta").collect() == a2.collect()
    assert read_published(spark, root, "tb").collect() == b2.collect()

    # rollback reverts every table at once; history stays linear
    v3 = rollback(root, v1)
    assert v3 > v2
    assert read_published(spark, root, "ta").collect() == a1.collect()
    assert read_published(spark, root, "tb").collect() == b1.collect()
    # time travel to v2 still works after rollback
    assert read_published(spark, root, "ta", version=v2).collect() == a2.collect()


def test_publish_partial_batch_crash_leaves_readers_unaffected(spark, tmp_path):
    from aws_datalake_spark.sources import txn_table as tt
    from aws_datalake_spark.sources.publish import publish_txn, read_published

    root = str(tmp_path / "lake2")
    a1 = spark.createDataFrame([(1,)], "id long")
    b1 = spark.createDataFrame([(2,)], "id long")
    tt.write(a1, os.path.join(root, "ta"))
    tt.write(b1, os.path.join(root, "tb"))
    publish_txn(root, {"ta": None, "tb": None})
    # simulated crash mid-batch: only ta's version 2 got committed, no publish
    tt.write(spark.createDataFrame([(9,)], "id long"), os.path.join(root, "ta"))
    assert read_published(spark, root, "ta").collect() == a1.collect()
    assert read_published(spark, root, "tb").collect() == b1.collect()


def test_publish_concurrent_writers_lose_no_update(tmp_path):
    """Two racing publishers must BOTH land (O_EXCL version claim):
    the loser retries on top of the winner instead of overwriting."""
    import threading

    from aws_datalake_spark.sources.publish import current_manifest, publish

    root = str(tmp_path / "lake3")
    os.makedirs(root, exist_ok=True)
    publish(root, {"ta": "b1", "tb": "b1"})
    barrier = threading.Barrier(2)
    errs = []

    def worker(tables):
        try:
            barrier.wait()
            publish(root, tables)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    t1 = threading.Thread(target=worker, args=({"ta": "b2"},))
    t2 = threading.Thread(target=worker, args=({"tb": "b2"},))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    cur = current_manifest(root)
    # no lost update: both batch pointers advanced, linear history v1..v3
    assert cur["tables"] == {"ta": "b2", "tb": "b2"}
    assert cur["version"] == 3
    assert os.path.exists(os.path.join(root, "_manifests", "v2.json"))
    assert os.path.exists(os.path.join(root, "_manifests", "v3.json"))


def test_publish_orphaned_claim_fails_loudly(tmp_path):
    """A crashed publisher's claimed-but-uncommitted version file must
    make the next publish raise, not silently drop a batch."""
    import pytest

    from aws_datalake_spark.sources.publish import publish

    root = str(tmp_path / "lake4")
    os.makedirs(root, exist_ok=True)
    publish(root, {"ta": "b1"})
    # simulate a publisher that claimed v2 then died before the commit
    with open(os.path.join(root, "_manifests", "v2.json"), "w") as f:
        f.write("{}")
    with pytest.raises(RuntimeError, match="could not claim"):
        publish(root, {"ta": "b2"})


def test_ordered_shards_concatenate_to_global_order(spark, tmp_path):
    import glob
    import os

    from aws_datalake_spark.sources.writers import write_ordered_shards

    # positions deliberately scrambled across input partitions
    df = (
        spark.createDataFrame(
            [((i * 37) % 1000, f"doc{i}") for i in range(1000)],
            "pos long, payload string",
        )
        .repartition(8)
    )
    path = str(tmp_path / "shards")
    write_ordered_shards(df, path, "pos", 4)
    files = sorted(glob.glob(os.path.join(path, "part-*")))
    assert len(files) == 4
    seen = []
    for f in files:
        rows = [r["pos"] for r in spark.read.parquet(f).collect()]
        assert rows == sorted(rows), "shard not internally sorted"
        if seen and rows:
            assert rows[0] >= seen[-1], "shard ranges overlap"
        seen.extend(rows)
    assert seen == sorted(seen) and len(seen) == 1000


def test_publish_txn_cross_table_snapshot_isolation(tmp_path, spark):
    """Two txn tables advance independently; publish_txn pins both in
    one manifest flip, and a past manifest version reads BOTH tables
    at their then-pinned versions (cross-table time travel)."""
    from pyspark.sql import Row

    from aws_datalake_spark.sources import txn_table as tt
    from aws_datalake_spark.sources.publish import (
        publish_txn,
        read_published,
    )

    root = str(tmp_path / "wh")
    a, b = f"{root}/dim_a", f"{root}/dim_b"
    tt.write(spark.createDataFrame([Row(k=1, v="a1")]).coalesce(1), a)
    tt.write(spark.createDataFrame([Row(k=1, v="b1")]).coalesce(1), b)
    m1 = publish_txn(root, {"dim_a": None, "dim_b": None})

    # both tables load a new batch; nothing visible until the flip
    tt.write(spark.createDataFrame([Row(k=2, v="a2")]).coalesce(1), a)
    tt.write(spark.createDataFrame([Row(k=2, v="b2")]).coalesce(1), b)
    assert read_published(spark, root, "dim_a").count() == 1
    m2 = publish_txn(root, {"dim_a": None, "dim_b": None})
    assert m2 == m1 + 1

    assert read_published(spark, root, "dim_a").count() == 2
    assert read_published(spark, root, "dim_b").count() == 2
    # cross-table-consistent time travel through the old manifest
    assert read_published(spark, root, "dim_a", version=m1).count() == 1
    assert read_published(spark, root, "dim_b", version=m1).count() == 1
    # pinning a nonexistent version fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed version"):
        publish_txn(root, {"dim_a": 99})


def test_paged_api_file_mode_page_boundaries_exact(spark):
    """File-backed fixture service (S1 driver surface): awkward page
    sizes must tile the table exactly — no lost or duplicated rows at
    page boundaries, across multiple Arrow batches."""
    from aws_datalake_spark.catalog import table_path
    from aws_datalake_spark.sources.paginated import register

    register(spark)
    path = table_path("/root/testdata/sf0.001", "customer")
    want = {r.c_custkey for r in spark.read.parquet(path).collect()}
    for page in (7, 64, 1000):
        got = [
            r.id
            for r in spark.read.format("paged_api")
            .option("path", path)
            .option("page_size", page)
            .load()
            .collect()
        ]
        assert len(got) == len(want) and set(got) == want, page
    # pushdown + keyed filters compose server-side
    df = (
        spark.read.format("paged_api")
        .option("path", path)
        .option("page_size", 32)
        .option("active_only", "true")
        .option("keys", "1,2,3")
        .load()
    )
    rows = df.collect()
    assert {r.id for r in rows} <= {1, 2, 3}
    assert all(r.status == "ACTIVE" for r in rows)
