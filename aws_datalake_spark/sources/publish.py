"""Cross-table atomic publish: the reference's single-commit batch.

The reference loads 19+ warehouse tables and makes them ALL visible
with one ``con.commit()`` at the end of the run
(`/root/reference/loading.py:2137`) — readers never see half a batch.
A transaction log (``txn_table``) gives per-TABLE atomicity only;
SURVEY.md §4 flags the cross-table equivalent as the one
orchestration-level custom piece. This module is that piece:

* writers commit each table's load to its own log at
  ``<root>/<table>`` — readers never see those versions, because
  they resolve tables through the manifest, not the log head;
* ``publish_txn()`` flips ONE manifest file (write-temp + atomic
  rename) pinning every table to a log version (``txn:v<N>``). The
  flip is the commit point: before it, readers see the old version
  of every table; after it, the new version of every table. There
  is no intermediate state, no matter how many tables the batch
  touched or where it crashed;
* ``read_published()`` resolves through the manifest to a
  version-pinned ``txn_table.read``;
* previous manifests are retained (``_manifests/v<N>.json``) —
  rollback is re-publishing an old version, and time-travel reads
  are ``read_published(..., version=N)``.

On a real object store the same design holds: single-key PUTs are
atomic on S3/GCS, so the manifest flip stays the commit point (the
rename becomes a PUT). This is the same commit discipline Delta/Iceberg
use for one table, applied across a SET of tables.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from aws_datalake_spark.sources import txn_table as tt

_MANIFEST_DIR = "_manifests"
_CURRENT = "_CURRENT.json"
_TXN_PIN = "txn:v"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version}.json")


def current_manifest(root: str) -> dict:
    """The live manifest: ``{"version": N, "tables": {name: batch}}``;
    empty when nothing has been published."""
    cur = os.path.join(root, _CURRENT)
    if not os.path.exists(cur):
        return {"version": 0, "tables": {}}
    with open(cur) as f:
        return json.load(f)


def publish(root: str, tables: dict[str, str]) -> int:
    """Atomically make ``{table: pin}`` the visible state for EVERY
    listed table at once; unlisted tables keep their current pin.
    Returns the new manifest version. Pins are opaque here;
    ``publish_txn`` writes the ``txn:v<N>`` pins ``read_published``
    resolves.

    The commit point is one ``os.replace`` of the manifest file —
    POSIX-atomic, so a concurrent reader sees either the old or the
    new manifest, never a torn one, and a crash before the replace
    publishes nothing (committed log versions simply sit unpinned).

    Concurrent WRITERS are serialized optimistically: the retained
    ``v<N+1>.json`` is created with ``O_EXCL``, so two publishers that
    both read version N race on the same filename and exactly one
    wins; the loser re-reads the (now advanced) manifest and retries
    on top of it — the lost-update where the second ``os.replace``
    silently discards the first batch's table pointers cannot happen.
    This is the same optimistic-concurrency protocol Delta Lake uses
    on its ``_delta_log/<version>.json`` commit files. (On object
    stores without atomic create-if-absent, swap the O_EXCL create
    for a conditional PUT / DynamoDB-style lock — same protocol.)
    """
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    for _ in range(64):
        cur = current_manifest(root)
        new_tables = dict(cur["tables"])
        new_tables.update(tables)
        version = cur["version"] + 1
        doc = {"version": version, "tables": new_tables}
        try:
            fd = os.open(
                _manifest_path(root, version),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                0o644,
            )
        except FileExistsError:
            # Lost the race. The winner's _CURRENT replace may still be
            # in flight, so give it a beat before re-reading.
            time.sleep(0.01)
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, indent=2, sort_keys=True)
        break
    else:
        raise RuntimeError(
            f"publish: could not claim a manifest version under {root!r} "
            "after 64 attempts (livelock or stale v*.json files)"
        )
    fd, tmp = tempfile.mkstemp(dir=root, prefix="._current.")
    with os.fdopen(fd, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    os.replace(tmp, os.path.join(root, _CURRENT))  # the commit point
    return version


def rollback(root: str, version: int) -> int:
    """Re-publish a retained manifest version (all tables revert
    together). Returns the NEW manifest version (rollback is itself
    a published commit, preserving linear history)."""
    with open(_manifest_path(root, version)) as f:
        old = json.load(f)
    return publish(root, old["tables"])


def read_published(
    spark: SparkSession, root: str, table: str, version: int | None = None
) -> DataFrame:
    """Read a table at its currently-published log version (or at a
    retained manifest ``version`` — cross-table-consistent time
    travel)."""
    if version is None:
        manifest = current_manifest(root)
    else:
        with open(_manifest_path(root, version)) as f:
            manifest = json.load(f)
    if table not in manifest["tables"]:
        raise KeyError(f"table {table!r} has no published version (manifest v{manifest['version']})")
    return tt.read(spark, os.path.join(root, table),
                   version=pinned_version(manifest["tables"][table]))


def pinned_version(pin: str) -> int:
    """The log version a ``txn:v<N>`` manifest pin names."""
    if not pin.startswith(_TXN_PIN):
        raise ValueError(f"not a transaction-log pin: {pin!r}")
    return int(pin[len(_TXN_PIN):])


def publish_txn(root: str, versions: dict[str, int | None]) -> int:
    """Cross-table snapshot isolation over TRANSACTION-LOG tables:
    atomically pin ``{table: txn version}`` (None = the table's
    current committed version) in one manifest flip. This composes
    the two commit layers — per-table atomicity from the txn log,
    cross-table atomicity from the manifest — so a 19-table batch
    (the reference's single ``con.commit()``) becomes: commit each
    table's load to its own log, then ONE ``publish_txn`` makes every
    new version visible together; ``read_published(...,
    version=<manifest>)`` is cross-table-consistent time travel.
    Tables live at ``<root>/<name>`` as txn tables."""
    resolved: dict[str, str] = {}
    for name, v in versions.items():
        cur = tt.snapshot(os.path.join(root, name))["version"]
        if v is None:
            v = cur
        elif v > cur:
            raise ValueError(
                f"publish_txn: {name!r} has no committed version {v} "
                f"(latest is {cur})"
            )
        resolved[name] = f"{_TXN_PIN}{v}"
    return publish(root, resolved)
