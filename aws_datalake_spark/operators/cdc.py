"""Snapshot differencing (change data capture).

The reference's whole loading stage exists because it can only see
full daily snapshots: every row is re-versioned through the SCD2
close-out + insert (loading.py:32-130), churning the warehouse even
when nothing changed. Diffing consecutive snapshots first
(insert/update/delete per key) shrinks the merge input to the actual
change set — the Delta CDF / CDC pattern.

SCALE: one full outer join keyed on the natural key; both sides
shuffle once (or co-locate for free if snapshots are written
bucketed by key — sources/bucketing.py). Value comparison is
null-safe column equality, not string serialization, so no
engine-specific double formatting can leak into the result.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Per-key change set between two snapshots with identical
    schemas: ``keys... , change_type ∈ ('insert','update','delete')``.
    Unchanged rows are dropped (null-safe comparison, so NULL→NULL is
    'unchanged' while NULL→value is an update)."""
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshots must share a schema")
    vals = [c for c in old.columns if c not in keys]
    o = old.select([F.col(c).alias(f"__o_{c}") for c in old.columns])
    n = new.select([F.col(c).alias(f"__n_{c}") for c in new.columns])
    cond = [o[f"__o_{k}"].eqNullSafe(n[f"__n_{k}"]) for k in keys]
    j = o.join(n, on=cond, how="full_outer")
    changed = F.lit(False)
    for c in vals:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change_type = (
        F.when(F.col(f"__o_{keys[0]}").isNull(), F.lit("insert"))
        .when(F.col(f"__n_{keys[0]}").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"__o_{k}"), F.col(f"__n_{k}")).alias(k) for k in keys
    ]
    return (
        j.select(*out_keys, change_type.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )


def apply_changes(
    target: DataFrame,
    upserts: DataFrame,
    delete_keys: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Apply a change set to a snapshot: rows matching ``delete_keys``
    or an upsert key are dropped, then ``upserts`` (full rows) are
    appended — the parquet-era form of ``MERGE WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT / WHEN MATCHED DELETE``; on a
    transaction-log table the same change set is one
    ``txn_table.merge_upsert(..., anti_keys=...)`` commit.

    SCALE: one left_anti join keyed on the natural key. The removal
    key set (upsert keys ∪ delete keys) is change-sized, so it
    broadcasts; the target is never shuffled.
    """
    remove = (
        upserts.select(*[F.col(k) for k in keys])
        .unionByName(delete_keys.select(*[F.col(k) for k in keys]))
        .distinct()
    )
    from pyspark.sql.functions import broadcast

    kept = target.join(broadcast(remove), on=list(keys), how="left_anti")
    return kept.unionByName(upserts.select(*target.columns))
