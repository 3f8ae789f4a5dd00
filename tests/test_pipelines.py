"""End-to-end lifecycle: raw JSON → transformation zone → SCD2
warehouse table over two daily runs (SURVEY.md §3 parity)."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from aws_datalake_spark.operators.rules import Rule
from aws_datalake_spark.pipelines import (
    EntityLoad,
    TransformationJob,
    run_batch_load,
    run_transformation,
)
from aws_datalake_spark.sources import txn_table as tt
from aws_datalake_spark.sources.publish import read_published
from aws_datalake_spark.sources.writers import write_pipe_csv

_DAY1 = [
    {
        "_id": 1, "reference_id": "r1", "name": "alpha",
        "startDateTime": {"date": {"year": 2024, "month": 1, "day": 2}},
        "stats": {"impressions": 100, "clicks": 10},
        "locations": [{"id": 11, "type": "CITY"}, {"id": 12, "type": "STATE"}],
    },
    {
        "_id": 2, "reference_id": "r2", "name": "beta",
        "startDateTime": {"date": {"year": 2024, "month": 2, "day": 3}},
        "stats": {"impressions": 50, "clicks": 5},
        "locations": [],
    },
]
# day 2: cumulative metrics advanced; entity 1 renamed
_DAY2 = [
    {
        "_id": 1, "reference_id": "r1", "name": "alpha2",
        "startDateTime": {"date": {"year": 2024, "month": 1, "day": 2}},
        "stats": {"impressions": 160, "clicks": 13},
        "locations": [{"id": 11, "type": "CITY"}],
    },
    {
        "_id": 2, "reference_id": "r2", "name": "beta",
        "startDateTime": {"date": {"year": 2024, "month": 2, "day": 3}},
        "stats": {"impressions": 75, "clicks": 9},
        "locations": [],
    },
]

_JOB = TransformationJob(
    rules=[
        Rule("_id", "_id"),
        Rule("reference_id", "reference_id"),
        Rule("name", "entity_name"),
        Rule("startDateTime.date.year", "start_year", kind="nested"),
        Rule("stats.impressions", "impressions", kind="nested"),
        Rule("stats.clicks", "clicks", kind="nested"),
    ],
    final_columns=["_id", "reference_id", "entity_name", "start_year",
                   "impressions", "clicks", "generic1", "insrt_ts"],
    metric_cols=["impressions", "clicks"],
    child_arrays={"locations": "locations"},
)

_STG_SCHEMA = (
    "_id long, reference_id string, entity_name string, start_year long, "
    "impressions long, clicks long, generic1 string, insrt_ts timestamp"
)


def _write_raw(tmp_path, name, records):
    p = tmp_path / name
    p.mkdir()
    # the reference serializes pretty-printed JSON arrays
    # (ingestion.py:274-275 indent=4) — multiLine read path
    (p / "data.json").write_text(json.dumps(records, indent=4))
    return str(p)


def test_two_day_lifecycle(spark, tmp_path):
    raw1 = _write_raw(tmp_path, "raw1", _DAY1)
    raw2 = _write_raw(tmp_path, "raw2", _DAY2)
    state = str(tmp_path / "state")
    zone1 = str(tmp_path / "transformed1")
    zone2 = str(tmp_path / "transformed2")
    wh = str(tmp_path / "warehouse")

    def load(batch_id, zone):
        run_batch_load(spark, wh, batch_id, {
            "entity": EntityLoad(zone, keys=["_id"], staging_schema=_STG_SCHEMA),
        })
        return read_published(spark, wh, "entity")

    # --- day 1 transformation: first sight → deltas = raw cumulative
    out1 = run_transformation(spark, raw1, zone1, _JOB, state_path=state)
    m1 = {r._id: r for r in out1["main"].collect()}
    assert m1[1].impressions == 100 and m1[1].clicks == 10
    # child explode drops the empty-array parent (E1 semantics)
    assert [r._id for r in out1["locations"].collect()] == [1, 1]

    # --- day 1 load: first load → all rows active
    t1 = load("d1", zone1)
    assert t1.filter(F.col("actv_flg") == "Y").count() == 2

    # --- day 2 transformation: deltas vs stored cumulative
    out2 = run_transformation(spark, raw2, zone2, _JOB, state_path=state)
    m2 = {r._id: r for r in out2["main"].collect()}
    assert m2[1].impressions == 60 and m2[1].clicks == 3   # 160-100, 13-10
    assert m2[2].impressions == 25 and m2[2].clicks == 4   # 75-50, 9-5

    # --- day 2 load: SCD2 close-out + unconditional re-insert
    t2 = load("d2", zone2)
    assert t2.count() == 4
    active = {r._id: r for r in t2.filter(F.col("actv_flg") == "Y").collect()}
    assert active[1].entity_name == "alpha2"
    closed = t2.filter(F.col("actv_flg") == "N")
    assert closed.count() == 2  # even unchanged beta re-versioned (reference parity)
    assert all(r.record_to is not None for r in closed.collect())

    # state now holds day-2 cumulative
    st = {r._id: r for r in tt.read(spark, state).collect()}
    assert st[1].impressions_value == 160 and st[2].clicks_value == 9
    # one state version per day, and no staged copy beside the table
    assert [h["op"] for h in tt.history(state)] == ["append", "merge"]
    assert sorted(os.listdir(tmp_path)) == [
        "raw1", "raw2", "state", "transformed1", "transformed2", "warehouse",
    ]
    for root in (state, os.path.join(wh, "entity")):
        rep = tt.fsck(root, verify_stats=True)
        assert rep["ok"], rep["problems"]


def test_masking_zone_copy(spark, tmp_path):
    from aws_datalake_spark.pipelines import run_masking

    src = str(tmp_path / "raw_zone")
    dst = str(tmp_path / "masked_zone")
    spark.createDataFrame(
        [(1, "alice", "a@x.io", 9.5)], "id long, name string, email string, score double"
    ).write.parquet(src)
    out = run_masking(spark, src, dst, ["email", "ssn_not_present"])
    assert out.columns == ["id", "name", "score"]
    assert out.count() == 1


def test_batch_load_single_commit_scd2_across_entities(spark, tmp_path):
    from aws_datalake_spark.pipelines import EntityLoad, run_batch_load
    from aws_datalake_spark.sources.publish import read_published
    from aws_datalake_spark.sources.writers import write_pipe_csv

    root = str(tmp_path / "warehouse")
    schema = "k long, v string, insrt_ts timestamp"

    def stage(day, rows):
        paths = {}
        for name, data in rows.items():
            p = str(tmp_path / f"stg_{name}_{day}")
            write_pipe_csv(
                spark.createDataFrame(data, schema).coalesce(1), p
            )
            paths[name] = p
        return {
            name: EntityLoad(staging_path=p, keys=["k"], staging_schema=schema)
            for name, p in paths.items()
        }

    import datetime

    t1 = datetime.datetime(2024, 1, 1)
    v1 = run_batch_load(
        spark, root, "d1",
        stage("d1", {"ad_unit": [(1, "a", t1)], "creative": [(7, "x", t1)]}),
    )
    assert v1 == 1
    assert read_published(spark, root, "ad_unit").count() == 1

    # batch 2 updates ad_unit row 1 and inserts creative row 8;
    # after ONE publish both entities show the new state
    t2 = datetime.datetime(2024, 1, 2)
    v2 = run_batch_load(
        spark, root, "d2",
        stage("d2", {"ad_unit": [(1, "a2", t2)], "creative": [(8, "y", t2)]}),
    )
    assert v2 == 2
    au = read_published(spark, root, "ad_unit").orderBy("insrt_ts").collect()
    # SCD2: old version closed out, new version active
    assert [(r.v, r.actv_flg) for r in au] == [("a", "N"), ("a2", "Y")]
    cr = read_published(spark, root, "creative")
    assert cr.filter("actv_flg = 'Y'").count() == 2
    # time travel: at v1 creative had one row
    assert read_published(spark, root, "creative", version=1).count() == 1


_BATCH_SCHEMA = "k long, v string, insrt_ts timestamp"


def _stage_batch(spark, tmp_path, day, rows):
    """Pipe-CSV staging per entity plus its EntityLoad, close-out
    time pinned so two loads of the same batch compare exactly."""
    loads = {}
    for name, data in rows.items():
        p = str(tmp_path / f"stg_{name}_{day}")
        write_pipe_csv(spark.createDataFrame(data, _BATCH_SCHEMA).coalesce(1), p)
        loads[name] = EntityLoad(staging_path=p, keys=["k"], staging_schema=_BATCH_SCHEMA,
                                 close_ts=f"{day} 00:00:01")
    return loads


def _published(spark, root, version=None):
    return {
        name: sorted(tuple(r) for r in read_published(spark, root, name, version).collect())
        for name in ("ad_unit", "creative")
    }


def test_batch_load_rerun_after_crash_equals_clean_run(spark, tmp_path):
    """A batch that crashed after its first entity's merge commit is
    invisible, and rerunning the same batch_id restores that entity
    to its published version first — the end state equals one clean
    run, with every log consistent."""
    t1, t2 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 2)
    day1 = {"ad_unit": [(1, "a", t1), (2, "b", t1)], "creative": [(7, "x", t1)]}
    day2 = {"ad_unit": [(1, "a2", t2), (3, "c", t2)], "creative": [(7, "x2", t2)]}
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    loads1 = _stage_batch(spark, tmp_path, "2024-01-01", day1)
    loads2 = _stage_batch(spark, tmp_path, "2024-01-02", day2)
    run_batch_load(spark, clean, "d1", loads1)
    run_batch_load(spark, clean, "d2", loads2)

    def crash(batch_id, loads):
        missing = dict(loads, creative=EntityLoad(
            staging_path=str(tmp_path / "never_written"), keys=["k"],
            staging_schema=_BATCH_SCHEMA,
        ))
        with pytest.raises(AnalysisException):
            run_batch_load(spark, crashed, batch_id, missing)

    crash("d1", loads1)  # a crashed first load is overwritten on rerun
    run_batch_load(spark, crashed, "d1", loads1)
    crash("d2", loads2)
    # ad_unit's merge is committed to its log but not published
    assert tt.snapshot(os.path.join(crashed, "ad_unit"))["version"] == 3
    assert _published(spark, crashed) == _published(spark, clean, version=1)

    v = run_batch_load(spark, crashed, "d2", loads2)
    assert v == 2
    assert _published(spark, crashed) == _published(spark, clean)
    active = [r for r in _published(spark, crashed)["ad_unit"] if r[3] == "Y"]
    assert sorted(r[1] for r in active) == ["a2", "b", "c"]
    for root in (clean, crashed):
        for name in ("ad_unit", "creative"):
            rep = tt.fsck(os.path.join(root, name), verify_stats=True)
            assert rep["ok"], rep["problems"]


def test_entity_end_to_end_scd2_history(spark):
    """The composed GAM-entity flow (rules→explode→pad→audit→CSV
    zones→SCD2 batch loads→publish) must leave real SCD2 history:
    mutated keys carry a closed 'N' version with the pinned close_ts
    plus an active re-inserted version; untouched keys stay single."""
    from aws_datalake_spark.queries.entity_e2e import ref_entity_end_to_end
    from tests.conftest import SF_SMOKE

    out = ref_entity_end_to_end(spark, SF_SMOKE).cache()
    mutated = out.filter("_id % 7 = 0")
    untouched = out.filter("_id % 7 != 0")
    # every mutated key: exactly one closed + one active version
    per_key = {
        (r["actv_flg"], r["record_to"] is None)
        for r in mutated.select("actv_flg", "record_to").distinct().collect()
    }
    assert per_key == {("N", False), ("Y", True)}
    assert mutated.filter("actv_flg = 'Y'").select("status").distinct().collect()[0][
        "status"
    ] == "X"
    # untouched keys: single active batch-1 version
    assert untouched.filter("actv_flg != 'Y'").count() == 0
    # P2: schema-absent nested rule surfaced as NULL everywhere
    assert out.filter("device_targeting IS NOT NULL").count() == 0
    out.unpersist()
