"""End-to-end pipeline composition (SURVEY.md §3 lifecycle parity).

The reference's stages communicate through S3 zone files:
raw JSON → (rules/explode/pad/state) → pipe-CSV → (COPY + SCD2) →
warehouse (/root/reference/transformation.py:246-416,
loading.py:25-133). These builders chain the same operators over
ZonePaths directories; each stage is a handful of narrow Spark jobs,
and the per-row DynamoDB RPC of the reference
(transformation.py:407) is two set-based operations.

The transformation state and every warehouse table are
transaction-log tables (sources/txn_table.py): a write lands as new
files plus one log commit, so a plan still reading the previous
snapshot stays valid and nothing is staged and copied. Zone writes
are idempotent overwrites; a batch load reruns from the last
published versions.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_datalake_spark.operators.nested import explode_child
from aws_datalake_spark.operators.rules import Rule, compile_rules
from aws_datalake_spark.operators.scalar import (
    add_audit_ts,
    add_generic_padding,
    project_final,
)
from aws_datalake_spark.operators.state_delta import compute_deltas, upsert_state
from aws_datalake_spark.sources import txn_table as tt
from aws_datalake_spark.sources.publish import (
    current_manifest,
    pinned_version,
    publish_txn,
)
from aws_datalake_spark.sources.readers import read_json_docs, read_pipe_staging
from aws_datalake_spark.sources.writers import cast_void_to_string, write_pipe_csv


@dataclass
class TransformationJob:
    """§3.2 transformation stage config (the DynamoDB rule items,
    transformation.py:457-462, as plain data)."""

    rules: list[Rule]
    final_columns: list[str]
    key_cols: list[str] = field(default_factory=lambda: ["_id", "reference_id"])
    metric_cols: list[str] = field(default_factory=list)
    child_arrays: dict[str, str] = field(default_factory=dict)  # out-name -> array path
    generic_padding: int = 10
    # historical backfill date (ingestion.py:28-36): insrt_ts = date+1s
    # instead of now() — also what makes a pipeline run reproducible
    historical_date: str | None = None


def run_transformation(
    spark: SparkSession,
    raw_path: str,
    out_path: str,
    job: TransformationJob,
    state_path: str | None = None,
    schema=None,
    multi_line: bool = True,
) -> dict[str, DataFrame]:
    """raw JSON → rule projection → child-table explodes → padding +
    audit ts → stateful delta (join + state upsert, NOT per-row RPC)
    → pipe-CSV zone write. Returns the written frames by name.

    ``multi_line=True`` matches the reference's pretty-printed raw
    arrays; pass False for JSONL zones (one doc per line — the layout
    that actually splits across executors at scale)."""
    raw = read_json_docs(spark, raw_path, schema=schema, multi_line=multi_line)
    main = compile_rules(raw, job.rules)

    outputs: dict[str, DataFrame] = {}
    for name, array_path in job.child_arrays.items():
        child = explode_child(raw, array_path, parent_keys=job.key_cols[:1])
        outputs[name] = child

    main = add_generic_padding(main, n=job.generic_padding)
    main = add_audit_ts(main, historical_date=job.historical_date)

    state = None
    if job.metric_cols:
        if state_path is not None and tt.is_txn_table(state_path):
            state = tt.read(spark, state_path)
        main = compute_deltas(main, state, job.key_cols, job.metric_cols)
    main = cast_void_to_string(
        project_final(main, [c for c in job.final_columns if c in main.columns])
    )
    write_pipe_csv(main, out_path)
    if job.metric_cols and state_path is not None:
        # today's cumulative per key (upsert_state with no prior state),
        # committed once: the merge keeps state rows of absent keys
        fresh = upsert_state(
            raw.select(*[r.to_column(raw) for r in job.rules]).select(
                *job.key_cols, *job.metric_cols
            ),
            None,
            job.key_cols,
            job.metric_cols,
        )
        if state is None:
            tt.write(fresh, state_path)
        else:
            tt.merge_upsert(spark, state_path, fresh, keys=job.key_cols)

    outputs["main"] = spark.read.option("sep", "|").option("header", True).schema(
        main.schema
    ).csv(out_path)
    return outputs


def run_masking(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    masking_cols: list[str],
    fmt: str = "parquet",
) -> DataFrame:
    """§ masking/zone-copy stage (/root/reference/partitioning.py:
    54-69): copy a dataset between zones with the configured columns
    dropped. A distributed read→drop→write, not the reference's
    per-object driver loop; missing mask columns are ignored like the
    reference's dict.pop(col, None)."""
    from aws_datalake_spark.operators.scalar import mask_columns

    df = spark.read.format(fmt).load(in_path)
    present = [c for c in masking_cols if c in df.columns]
    masked = mask_columns(df, present)
    masked.write.mode("overwrite").format(fmt).save(out_path)
    return spark.read.format(fmt).load(out_path)


@dataclass
class EntityLoad:
    """One entity's loading config (a load_<entity> branch,
    loading.py:2012-2135, as plain data)."""

    staging_path: str
    keys: list[str]
    staging_schema: str
    # fixed close-out timestamp ('YYYY-MM-DD HH:MM:SS'); None = now().
    # Batch loads that must be replayable (and oracle-checkable) pin it.
    close_ts: str | None = None


def run_batch_load(
    spark: SparkSession,
    root: str,
    batch_id: str,
    entities: dict[str, EntityLoad],
) -> int:
    """§3.3 full-batch loading with the reference's single-commit
    visibility (loading.py:2137): each entity's SCD2 merge is one
    commit to its own log at ``<root>/<entity>`` (a first load is a
    plain write), then ONE ``publish_txn`` pins every entity's new
    version — readers see all entities' new versions or none.
    Returns the manifest version.

    Readers only see pinned versions, so a crashed batch left nothing
    visible. Its rerun over the same staging first restores every
    entity whose log moved past its pin (a first load overwrites), so
    each merge starts from the published state and the result equals
    one clean run — the logs and the manifest are the only record, so
    ``batch_id`` is a label the load does not store.
    """
    pins = current_manifest(root)["tables"]
    versions: dict[str, int] = {}
    for name, cfg in entities.items():
        path = os.path.join(root, name)
        staging = read_pipe_staging(spark, cfg.staging_path, schema=cfg.staging_schema)
        if name not in pins:
            versions[name] = tt.write(
                staging.withColumn("actv_flg", F.lit("Y")).withColumn(
                    "record_to", F.lit(None).cast("timestamp")
                ),
                path,
                mode="overwrite",
            )
            continue
        pinned = pinned_version(pins[name])
        if tt.snapshot(path)["version"] > pinned:
            tt.restore(path, pinned)
        close_ts = (
            F.lit(cfg.close_ts).cast("timestamp")
            if cfg.close_ts is not None
            else F.date_trunc("second", F.current_timestamp())
        )
        versions[name] = tt.scd2_merge_txn(
            spark, path, staging, cfg.keys, close_ts=close_ts
        )["version"]
    return publish_txn(root, versions)
