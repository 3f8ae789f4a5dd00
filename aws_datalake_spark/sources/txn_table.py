"""Native single-table transaction log — the Delta/Iceberg semantics
the harness image cannot ship (no network: the vendoring attempt is
recorded in SCALE.md §table-formats), implemented over plain parquet
plus a JSON commit log. Public-knowledge design: this is the commit
protocol published in the Delta Lake paper (Armbrust et al., VLDB
2020) and Iceberg's spec — log-as-source-of-truth, files are
immutable, commits are atomic single-file creates.

Why this matters at 100 TB, not just for ACID hygiene:

* **No LIST on read.** Readers resolve the live file set from the
  log (O(commits) small JSONs), never from directory listing —
  eventually-consistent / slow S3 LIST over millions of objects is
  the first thing that breaks a naive parquet lake at scale.
* **File-pruned MERGE.** Every data file carries per-column min/max
  stats in its `add` action. A keyed upsert rewrites ONLY files
  whose key range intersects the updates' key range; a 100 TB table
  taking a 1 GB CDC batch touches a handful of files instead of the
  full-table rewrite flat parquet is forced into.
* **Stats-skipped scans.** `read(..., prune={col: (lo, hi)})` drops
  files whose stats cannot satisfy the range before Spark ever sees
  them — the same data-skipping Delta does from its log.
* **Atomic commit + OCC.** A commit is ONE `O_CREAT|O_EXCL` create
  of `_txn_log/<version>.json` (same protocol as `publish.py`, and
  as Delta's `_delta_log`); losers of the race re-read the new
  snapshot and retry, so concurrent writers serialize instead of
  silently clobbering each other. On S3, swap O_EXCL for a
  conditional PUT (If-None-Match) — same protocol.
* **Time travel.** Snapshot at version V = replay of log ≤ V;
  `history()` exposes the commit trail; `vacuum()` reclaims files
  no retained snapshot references.

Driver-side notes (honest local-mode shortcuts, flagged for a real
cluster): footer-stat harvesting after a write reads each NEW file's
parquet metadata with pyarrow on the driver — O(files in this
commit), not O(table); on a cluster this becomes stats piggybacked
on task commit messages. Log replay is driver-side JSON — Delta
does the same up to its checkpoint-parquet optimization, which
`checkpoint_log()` mirrors by collapsing the prefix into one file.

Reference parity: the reference stages warehouse loads and flips
visibility in one commit (`/root/reference/loading.py:2137`); this
module is the single-table half of that discipline (cross-table is
`publish.py`).

Production mapping (the same call sites on Delta Lake with
delta-spark on the classpath):

* SCD2 close-out+insert (`scd2_merge_txn`) → one ``DeltaTable.merge``
  transaction (whenMatchedUpdate set actv_flg='N' + insert-all),
  file-pruned by the log's min/max stats.
* State upsert (`merge_upsert`) → ``merge.whenMatchedUpdateAll.
  whenNotMatchedInsertAll`` keyed (_id, reference_id).
* Drift (`write(..., merge_schema=True)`) → ``option("mergeSchema",
  "true")`` on append — the reference itself uses exactly this
  (/root/reference/great_expectations.py:337-338).
* `compact` / `zorder_compact` / `vacuum` / `restore` → ``OPTIMIZE``,
  ``OPTIMIZE ... ZORDER BY``, ``VACUUM``, ``RESTORE``.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txn_log"
_CHECKPOINT = "_checkpoint.json"
_DV_DIR = "_dv"
_EQDEL_DIR = "_eqdel"


# ---------------------------------------------------------------- log I/O


def _log_dir(root: str) -> str:
    return os.path.join(root, _LOG_DIR)


def _commit_path(root: str, version: int) -> str:
    return os.path.join(_log_dir(root), f"{version:020d}.json")


def is_txn_table(root: str) -> bool:
    return os.path.isdir(_log_dir(root))


def _list_versions(root: str) -> list[int]:
    d = _log_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _read_commit(root: str, version: int) -> dict:
    with open(_commit_path(root, version)) as f:
        return json.load(f)


def _checkpoint_doc(root: str) -> dict | None:
    p = os.path.join(_log_dir(root), _CHECKPOINT)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def snapshot(root: str, version: int | None = None) -> dict:
    """Replay the log up to ``version`` (default: latest). Returns
    ``{"version": V, "files": {relpath: add_action}, "eq_deletes":
    [{"path", "cols", "version"}]}``. Starts from the collapsed
    checkpoint when one covers a usable prefix. An equality delete
    applies to files whose ``_v`` (data sequence number) is OLDER
    than the delete's version — Iceberg v2 semantics."""
    versions = _list_versions(root)
    if version is None:
        version = versions[-1] if versions else 0
    files: dict[str, dict] = {}
    eq: list[dict] = []
    start = 1
    cp = _checkpoint_doc(root)
    if cp is not None and cp["version"] <= version:
        files = dict(cp["files"])
        eq = list(cp.get("eq_deletes", []))
        start = cp["version"] + 1
    for v in versions:
        if v < start or v > version:
            continue
        commit = _read_commit(root, v)
        for rm in commit.get("remove", []):
            files.pop(rm, None)
        for add in commit.get("add", []):
            files[add["path"]] = add
        if "eq_delete" in commit:
            eq.append(dict(commit["eq_delete"], version=v))
    return {"version": version, "files": files, "eq_deletes": eq}


def history(root: str) -> list[dict]:
    """The commit trail, oldest first: version, op, timestamp, and
    file-count deltas — the audit surface Delta's DESCRIBE HISTORY
    exposes."""
    out = []
    for v in _list_versions(root):
        c = _read_commit(root, v)
        out.append(
            {
                "version": v,
                "op": c.get("op", "?"),
                "ts": c.get("ts"),
                "added": len(c.get("add", [])),
                "removed": len(c.get("remove", [])),
            }
        )
    return out


def checkpoint_log(root: str) -> int:
    """Collapse the log prefix into one checkpoint doc so snapshot
    replay is O(1) + O(commits since checkpoint) — Delta's
    checkpoint-parquet, minus the parquet."""
    snap = snapshot(root)
    doc = {
        "version": snap["version"],
        "files": snap["files"],
        "eq_deletes": snap.get("eq_deletes", []),
    }
    tmp = os.path.join(_log_dir(root), f"._cp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
    os.replace(tmp, os.path.join(_log_dir(root), _CHECKPOINT))
    return snap["version"]


def _commit(root: str, op: str, add: list[dict], remove: list[str],
            expect_version: int | None = None,
            extra: dict | None = None) -> int:
    """Claim the next log slot with O_EXCL. If ``expect_version`` is
    given and the table moved past it, raise ConflictError so the
    caller re-derives its read set (serializable writers)."""
    os.makedirs(_log_dir(root), exist_ok=True)
    # files NEW in this commit get stamped with the commit version
    # (their "data sequence number" in Iceberg terms) — re-adds
    # (dv/bloom metadata commits copy existing actions) keep their
    # original stamp, so equality deletes keep applying to them
    fresh = [a for a in add if "_v" not in a]
    for _ in range(64):
        versions = _list_versions(root)
        latest = versions[-1] if versions else 0
        if expect_version is not None and latest != expect_version:
            raise ConflictError(
                f"txn_table: snapshot v{expect_version} is stale "
                f"(table is at v{latest}); re-read and retry"
            )
        for a in fresh:
            a["_v"] = latest + 1
        doc = {
            "version": latest + 1,
            "op": op,
            "ts": time.time(),
            "add": add,
            "remove": remove,
            **(extra or {}),
        }
        try:
            fd = os.open(
                _commit_path(root, latest + 1),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                0o644,
            )
        except FileExistsError:
            if expect_version is not None:
                raise ConflictError(
                    f"txn_table: lost commit race at v{latest + 1}; "
                    "re-read and retry"
                )
            time.sleep(0.01)  # blind append: safe to just take next slot
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, sort_keys=True)
        return latest + 1
    raise RuntimeError(f"txn_table: could not claim a commit slot under {root!r}")


class ConflictError(RuntimeError):
    """A concurrent commit invalidated this writer's snapshot."""


# ------------------------------------------------------------- data files


def _harvest_stats(root: str, relpaths: list[str]) -> list[dict]:
    """Per-file add actions with min/max/null-count per primitive
    column, read from parquet footers (driver-side, O(new files);
    a cluster implementation harvests these from task commits)."""
    import pyarrow.parquet as pq

    out = []
    for rel in relpaths:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        rows = md.num_rows
        stats: dict[str, dict] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested: no file-level pruning
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode(), hi.decode()
                    except UnicodeDecodeError:
                        continue
                if hasattr(lo, "isoformat"):
                    lo, hi = lo.isoformat(), hi.isoformat()
                cur = stats.get(name)
                if cur is None:
                    stats[name] = {
                        "min": lo,
                        "max": hi,
                        "nulls": st.null_count or 0,
                    }
                else:
                    cur["min"] = min(cur["min"], lo)
                    cur["max"] = max(cur["max"], hi)
                    cur["nulls"] += st.null_count or 0
        out.append({"path": rel, "rows": rows, "stats": stats})
    return out


def _write_data(df: DataFrame, root: str) -> list[dict]:
    """Write one commit's data under a unique subdir (invisible until
    the log references it) and return stat-carrying add actions."""
    sub = os.path.join("data", uuid.uuid4().hex)
    df.write.mode("overwrite").parquet(os.path.join(root, sub))
    rels = sorted(
        os.path.join(sub, f)
        for f in os.listdir(os.path.join(root, sub))
        if f.endswith(".parquet")
    )
    return _harvest_stats(root, rels)


# ------------------------------------------------------------ public API


class SchemaEnforcementError(ValueError):
    """An append's schema is incompatible with the table schema and
    merge_schema was not requested."""


def _require_table(root: str) -> None:
    if not is_txn_table(root):
        raise FileNotFoundError(f"{root!r} is not a txn table")


class ConstraintViolation(ValueError):
    """A write batch contains rows violating a table CHECK
    constraint; the commit was refused and nothing became visible."""


def add_constraint(root: str, name: str, predicate: str) -> int:
    """Declare a table-level CHECK constraint (Delta's ``ALTER TABLE
    … ADD CONSTRAINT``): a SQL predicate every row of every future
    write batch must satisfy. Stored in the log; enforcement happens
    at write time (one filter-count over the incoming batch — batch-
    sized, never a table scan), so bad data is refused BEFORE it
    becomes visible rather than quarantined after."""
    _require_table(root)
    return _commit(root, "add-constraint", [], [],
                   extra={"constraint": {"name": name, "expr": predicate}})


def drop_constraint(root: str, name: str) -> int:
    _require_table(root)
    return _commit(root, "drop-constraint", [], [],
                   extra={"constraint": {"name": name}})


def table_constraints(root: str, version: int | None = None) -> dict:
    """Active CHECK constraints at ``version`` (name -> predicate)."""
    out: dict[str, str] = {}
    for v in _list_versions(root):
        if version is not None and v > version:
            break
        c = _read_commit(root, v)
        if c.get("op") == "add-constraint":
            out[c["constraint"]["name"]] = c["constraint"]["expr"]
        elif c.get("op") == "drop-constraint":
            out.pop(c["constraint"]["name"], None)
    return out


def _enforce_constraints(df: DataFrame, root: str) -> None:
    for name, expr in table_constraints(root).items():
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(False))).limit(5)
        rows = bad.collect()
        if rows:
            raise ConstraintViolation(
                f"constraint {name!r} ({expr}) violated by incoming "
                f"batch; examples: {[tuple(r) for r in rows[:3]]}"
            )


def table_schema(root: str) -> list[list[str]] | None:
    """The logged [name, type] column list as of the latest commit
    that recorded one (None for pre-schema tables)."""
    for v in reversed(_list_versions(root)):
        c = _read_commit(root, v)
        if "schema" in c:
            return c["schema"]
    return None


def _schema_fields(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _check_schema(df: DataFrame, root: str, mode: str,
                  merge_schema: bool) -> list[list[str]]:
    """Delta's write contract: an append must match the table schema
    exactly unless merge_schema is set, in which case NEW columns may
    be added (existing columns must keep name+type); overwrite always
    replaces the schema. Enforcement reads only the log."""
    new = _schema_fields(df)
    if mode == "overwrite" or not is_txn_table(root):
        return new
    cur = table_schema(root)
    if cur is None:
        return new
    cur_d, new_d = dict(cur), dict(new)
    changed = {
        n for n in cur_d.keys() & new_d.keys() if cur_d[n] != new_d[n]
    }
    if changed:
        raise SchemaEnforcementError(
            f"txn_table: column type changed for {sorted(changed)} "
            f"(table {cur_d}, write {new_d}) — type changes require "
            "mode='overwrite'"
        )
    missing = cur_d.keys() - new_d.keys()
    extra = new_d.keys() - cur_d.keys()
    if (missing or extra) and not merge_schema:
        raise SchemaEnforcementError(
            f"txn_table: schema mismatch (missing={sorted(missing)}, "
            f"new={sorted(extra)}); pass merge_schema=True to evolve"
        )
    # evolved schema = table order, then new columns in write order
    return cur + [[n, t] for n, t in new if n in extra]


def write(df: DataFrame, root: str, mode: str = "append",
          merge_schema: bool = False) -> int:
    """Append or overwrite; either way data lands invisibly first and
    ONE log create makes it live. Appends are schema-ENFORCED against
    the logged table schema (merge_schema=True permits adding
    columns — Delta's mergeSchema semantics; readers fill missing
    columns with NULL via mergeSchema parquet reads). Returns the
    committed version."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if is_txn_table(root) and _has_column_ops(root):
        # column-mapped table: the caller speaks LOGICAL names;
        # enforce constraints on them, then write under the original
        # physical names so every file keeps one physical schema
        _enforce_constraints(df, root)
        mapping = table_mapping(root)
        unknown = set(df.columns) - mapping.keys()
        if unknown and not merge_schema:
            raise SchemaEnforcementError(
                f"txn_table: unknown columns {sorted(unknown)} for the "
                f"mapped schema {sorted(mapping)}; pass merge_schema=True"
            )
        taken = set(mapping.values())
        for c in unknown:
            if c in taken:
                # the physical name is owned by a RENAMED column; a new
                # logical column reusing it would alias two columns'
                # data together on read
                raise SchemaEnforcementError(
                    f"txn_table: column name {c!r} is the physical name "
                    "of a renamed column; choose a different name"
                )
            mapping[c] = c
        df = _to_physical(df, mapping)
        cur = dict(table_schema(root) or [])
        new_sch = dict(_schema_fields(df))
        changed = {
            n for n in cur.keys() & new_sch.keys() if cur[n] != new_sch[n]
        }
        if changed and mode != "overwrite":
            raise SchemaEnforcementError(
                f"txn_table: column type changed for {sorted(changed)}"
            )
        schema = _schema_fields(df)
    else:
        schema = _check_schema(df, root, mode, merge_schema)
        if is_txn_table(root):
            _enforce_constraints(df, root)
    add = _write_data(df, root)
    remove: list[str] = []
    if mode == "overwrite":
        remove = list(snapshot(root)["files"]) if is_txn_table(root) else []
    return _commit(root, mode, add, remove, extra={"schema": schema})


def _stats_overlap(add: dict, col: str, lo, hi) -> bool:
    """May this file contain a value of ``col`` in [lo, hi]? Missing
    stats ⇒ conservatively yes. Temporal probes (``date`` from a
    ``collect()``) compare as ISO strings, the form ``_harvest_stats``
    stores them in."""
    st = add.get("stats", {}).get(col)
    if st is None:
        return True
    lo = lo.isoformat() if hasattr(lo, "isoformat") else lo
    hi = hi.isoformat() if hasattr(hi, "isoformat") else hi
    if lo is not None and st["max"] < lo:
        return False
    if hi is not None and st["min"] > hi:
        return False
    return True


def _rel_path_expr():
    """The file's log-relative path, recovered from the hidden
    ``_metadata.file_path`` URI — every data file lives under
    ``data/<32-hex-commit-uuid>/…/<part>.parquet`` (hidden-partition
    writes nest hive dirs below the commit dir), so the suffix from
    the commit-uuid segment is exactly the add-action path key."""
    return F.regexp_extract(
        F.col("_metadata.file_path"), r"(data/[0-9a-f]{32}/.*\.parquet)$", 1
    )


def _read_files(
    spark: SparkSession,
    root: str,
    files: dict[str, dict],
    rels=None,
    eq_deletes: list[dict] | None = None,
) -> DataFrame:
    """Read the given live files applying their deletion vectors:
    files without a ``dv`` reference stream through untouched (zero
    overhead on the common path); files with one are anti-joined
    against their (path, row-position) delete set — a broadcast of
    only the DELETED positions, never a rewrite, which is the
    Delta/Iceberg merge-on-read protocol.

    ``eq_deletes`` (from ``snapshot()["eq_deletes"]``) applies
    equality-delete key sets with SEQUENCE semantics: a delete at
    version V anti-joins only files whose ``_v`` < V — rows of the
    same key appended after the delete stay live."""
    if eq_deletes:
        groups: dict[tuple, list[str]] = {}
        for r in sorted(files if rels is None else rels):
            fv = files[r].get("_v", 0)
            app = tuple(
                i for i, ed in enumerate(eq_deletes) if ed["version"] > fv
            )
            groups.setdefault(app, []).append(r)
        if set(groups) != {()}:
            parts = []
            for app, rs in sorted(groups.items()):
                sub = _read_files(spark, root, files, rs)
                for i in app:
                    ed = eq_deletes[i]
                    keys = (
                        spark.read.parquet(os.path.join(root, ed["path"]))
                        .select(*ed["cols"])
                        .dropDuplicates()
                    )
                    sub = sub.join(
                        F.broadcast(keys), list(ed["cols"]), "left_anti"
                    )
                parts.append(sub)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            return out
    rels = sorted(files if rels is None else rels)
    plain = [r for r in rels if not files[r].get("dv")]
    dved = [r for r in rels if files[r].get("dv")]
    parts = []
    if plain:
        parts.append(
            spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(root, p) for p in plain]
            )
        )
    if dved:
        df = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(root, p) for p in dved])
            .withColumn("__rel", _rel_path_expr())
            .withColumn("__pos", F.col("_metadata.row_index"))
        )
        dv_dirs = sorted({files[r]["dv"] for r in dved})
        dv = (
            spark.read.parquet(*[os.path.join(root, d) for d in dv_dirs])
            .select("__rel", "__pos")
            .dropDuplicates()
        )
        parts.append(
            df.join(F.broadcast(dv), ["__rel", "__pos"], "left_anti").drop(
                "__rel", "__pos"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ----------------------------------------------------- column mapping
#
# Delta's column-mapping feature, minimally: RENAME and DROP are
# metadata-only commits — zero files rewritten. Every logical column
# tracks its ORIGINAL physical name (the name stored in parquet at
# creation); reads alias physical→logical and exclude dropped
# physicals, writes translate logical→physical so every file keeps
# one physical schema forever. Mapping is versioned with the log, so
# time travel shows each version under ITS OWN names.
#
# Scope, stated honestly: read()/write()/merge_upsert() speak logical
# names; maintenance ops (compact/zorder/delete predicates/stats
# pruning) operate on physical names, and the incremental-MV dirty
# scan reads files directly — rename the MV's group columns and
# recreate the view rather than expecting it to follow.


def rename_column(root: str, old: str, new: str) -> int:
    """Metadata-only column rename. Fails if ``old`` is unknown or
    ``new`` already taken (as a logical name)."""
    _require_table(root)
    import re as _re

    for cname, expr in table_constraints(root).items():
        if _re.search(rf"\b{_re.escape(old)}\b", expr):
            raise ValueError(
                f"column {old!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}); drop the constraint first and "
                "re-add it under the new name"
            )
    m = table_mapping(root)
    if old not in m:
        raise ValueError(f"unknown column {old!r} (have {sorted(m)})")
    if new in m:
        raise ValueError(f"column {new!r} already exists")
    return _commit(root, "rename-column", [], [],
                   extra={"column_op": {"rename": [old, new]}})


def drop_column(root: str, name: str) -> int:
    """Metadata-only column drop: the physical data stays in the
    files (reclaimed at the next natural rewrite); reads stop
    returning it immediately."""
    _require_table(root)
    if name not in table_mapping(root):
        raise ValueError(f"unknown column {name!r}")
    return _commit(root, "drop-column", [], [],
                   extra={"column_op": {"drop": name}})


def table_mapping(root: str, version: int | None = None) -> dict:
    """logical name -> physical (as-written) name, at ``version``,
    replayed from the log: each commit's schema extra registers new
    PHYSICAL columns as identity; rename/drop commits rewire the
    logical side. Identity (and skipped entirely on read) until the
    first rename/drop commit."""
    m: dict[str, str] = {}
    for v in _list_versions(root):
        if version is not None and v > version:
            break
        c = _read_commit(root, v)
        for n, _t in c.get("schema") or []:
            if n not in m.values():
                m.setdefault(n, n)
        op = c.get("column_op")
        if not op:
            continue
        if "rename" in op:
            old, new = op["rename"]
            if old in m:
                m[new] = m.pop(old)
        elif "drop" in op:
            m.pop(op["drop"], None)
    return m


def _has_column_ops(root: str, version: int | None = None) -> bool:
    return any(
        "column_op" in _read_commit(root, v)
        for v in _list_versions(root)
        if version is None or v <= version
    )


def _to_logical(df: DataFrame, mapping: dict) -> DataFrame:
    """Project physical columns to logical names, dropping physicals
    with no logical name (dropped columns)."""
    phys_cols = set(df.columns)
    return df.select(
        *[
            F.col(phys).alias(logical)
            for logical, phys in mapping.items()
            if phys in phys_cols
        ]
    )


def _to_physical(df: DataFrame, mapping: dict) -> DataFrame:
    cols = []
    for c in df.columns:
        cols.append(F.col(c).alias(mapping.get(c, c)))
    return df.select(*cols)


def _mapping_is_identity(mapping: dict) -> bool:
    return all(k == v for k, v in mapping.items())


def version_at_timestamp(root: str, ts) -> int:
    """The latest version committed at or before ``ts`` (epoch
    seconds or ISO 'YYYY-MM-DD[ HH:MM:SS]' string) — Delta's
    ``TIMESTAMP AS OF`` resolution, from commit timestamps alone."""
    if isinstance(ts, str):
        import datetime

        ts = datetime.datetime.fromisoformat(ts).timestamp()
    best = None
    for v in _list_versions(root):
        if _read_commit(root, v).get("ts", float("inf")) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"txn table {root!r}: no commit at or before {ts}"
        )
    return best


def read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: dict | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot read (optionally at a past ``version`` — time
    travel), with stats-based file skipping: ``prune={col: (lo,
    hi)}`` drops files whose footer stats cannot satisfy the range.
    The pruning is an OPTIMIZATION only — pass the same predicate to
    ``.filter`` too; rows inside surviving files still need it.
    Deletion vectors (``delete_where_dv``) are applied transparently.
    ``timestamp`` resolves TIMESTAMP-AS-OF time travel via
    :func:`version_at_timestamp` (mutually exclusive with
    ``version``)."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(root, timestamp)
    snap = snapshot(root, version)
    files = snap["files"]
    if prune:
        for col, (lo, hi) in prune.items():
            files = {
                p: a for p, a in files.items() if _stats_overlap(a, col, lo, hi)
            }
    if not files:
        # empty snapshot: an empty frame with the table's schema if any
        # file ever existed, else error (nothing to infer from)
        all_snap = snapshot(root, version)
        if not all_snap["files"]:
            raise FileNotFoundError(f"txn table {root!r} has no live files")
        some = next(iter(all_snap["files"]))
        schema = spark.read.parquet(os.path.join(root, some)).schema
        return spark.createDataFrame([], schema)
    out = _read_files(spark, root, files, eq_deletes=snap.get("eq_deletes"))
    if _has_column_ops(root, snap["version"]):
        out = _to_logical(out, table_mapping(root, snap["version"]))
    return out


def merge_upsert(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    keys: list[str],
    max_attempts: int = 8,
    anti_keys: DataFrame | None = None,
    bounds: dict | None = None,
) -> dict:
    """Keyed upsert with FILE-LEVEL pruning: only files whose key
    ranges intersect the updates' key range are rewritten (matched
    rows replaced, new keys appended); every other file survives the
    commit untouched. Returns {"version", "rewritten", "untouched"}.

    ``anti_keys`` (optional) widens the rewrite's removal set: rows
    whose key matches ``anti_keys`` are dropped from the touched
    files even when ``updates`` does not re-add them — an upsert and
    a keyed delete in ONE rewrite/commit (the MV refresh's
    dirty-group apply). Must be a superset of the update keys.
    ``bounds`` (optional, ``{key: (lo, hi)}`` over the removal set)
    skips the bounds-collect job when the caller already knows them.

    Flat parquet must rewrite the world for an upsert; a logged
    table rewrites O(files containing the keys). Serializable via
    OCC — a concurrent commit between our snapshot and our log create
    raises ConflictError and the merge re-derives its read set.
    """
    _enforce_constraints(updates, root)
    if _has_column_ops(root):
        mapping = table_mapping(root)
        updates = _to_physical(updates, mapping)
        if anti_keys is not None:
            anti_keys = _to_physical(anti_keys, mapping)
        if bounds is not None:
            bounds = {mapping.get(k, k): v for k, v in bounds.items()}
        keys = [mapping.get(k, k) for k in keys]
    removal = anti_keys if anti_keys is not None else updates
    if bounds is not None:
        bounds = {
            f"{side}_{k}": bounds[k][i]
            for k in keys
            for i, side in enumerate(("lo", "hi"))
        }
    else:
        bounds = removal.agg(
            *[f for k in keys for f in (
                F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}"),
            )]
        ).collect()[0]
    for _ in range(max_attempts):
        snap = snapshot(root)
        touched, untouched = [], []
        for rel, add in snap["files"].items():
            hit = all(
                _stats_overlap(add, k, bounds[f"lo_{k}"], bounds[f"hi_{k}"])
                for k in keys
            )
            (touched if hit else untouched).append(rel)
        if touched:
            cur = _read_files(spark, root, snap["files"], sorted(touched),
                              eq_deletes=snap.get("eq_deletes"))
            kept = cur.join(removal.select(*keys), keys, "left_anti")
            merged = kept.unionByName(updates, allowMissingColumns=True)
        else:
            merged = updates
        add_actions = _write_data(merged, root)
        try:
            v = _commit(root, "merge", add_actions, sorted(touched),
                        expect_version=snap["version"])
        except ConflictError:
            continue  # re-derive against the new snapshot
        return {"version": v, "rewritten": len(touched), "untouched": len(untouched)}
    raise ConflictError(
        f"txn_table: merge on {root!r} lost {max_attempts} OCC races"
    )


def delete_where(
    spark: SparkSession,
    root: str,
    predicate: str,
    prune: dict | None = None,
) -> dict:
    """Delete rows matching a SQL predicate. Files proven clean by
    ``prune`` stats are untouched; candidate files are rewritten
    without the matching rows (dropped entirely when empty)."""
    snap = snapshot(root)
    files = snap["files"]
    candidates = dict(files)
    if prune:
        for col, (lo, hi) in prune.items():
            candidates = {
                p: a for p, a in candidates.items()
                if _stats_overlap(a, col, lo, hi)
            }
    if not candidates:
        return {"version": snap["version"], "rewritten": 0,
                "untouched": len(files)}
    cur = _read_files(spark, root, files, sorted(candidates),
                      eq_deletes=snap.get("eq_deletes"))
    kept = cur.filter(~F.expr(predicate))
    add_actions = _write_data(kept, root) if kept.limit(1).count() else []
    v = _commit(root, "delete", add_actions, sorted(candidates))
    return {"version": v, "rewritten": len(candidates),
            "untouched": len(files) - len(candidates)}


def delete_where_dv(
    spark: SparkSession,
    root: str,
    predicate: str,
    prune: dict | None = None,
) -> dict:
    """Row-level DELETE as a DELETION VECTOR — merge-on-read, the
    protocol Delta deletion vectors and Iceberg positional delete
    files publish. Matching rows are recorded as (file path, row
    position) pairs in a small parquet delete set under ``_dv/``;
    the commit re-adds the affected files' actions with a ``dv``
    reference and rewrites ZERO data bytes. Readers anti-join the
    broadcast delete set (see ``_read_files``); any later rewrite of
    an affected file (compact / zorder / merge / purge_dv)
    materializes the delete and drops the reference.

    Why this matters at 100 TB: copy-on-write deletes (``
    delete_where``) rewrite every candidate file to drop a handful
    of rows — a GDPR erasure touching one row per file rewrites the
    table. A DV commit is O(deleted rows) bytes regardless of table
    size. The trade is a per-read anti-join on affected files, paid
    until the next natural compaction.

    Stats in the re-added actions keep their PHYSICAL file values
    (``rows``, min/max) — still sound for pruning (over-approximate);
    ``dv_rows`` carries the logical deletion count per file.
    """
    snap = snapshot(root)
    files = snap["files"]
    candidates = dict(files)
    if prune:
        for col, (lo, hi) in prune.items():
            candidates = {
                p: a for p, a in candidates.items()
                if _stats_overlap(a, col, lo, hi)
            }
    if not candidates:
        return {"version": snap["version"], "files_with_dv": 0,
                "dv_rows_total": 0, "rewritten": 0}
    raw = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(root, p) for p in sorted(candidates)])
        .withColumn("__rel", _rel_path_expr())
        .withColumn("__pos", F.col("_metadata.row_index"))
    )
    matches = raw.filter(F.expr(predicate)).select("__rel", "__pos")
    if not matches.limit(1).count():
        return {"version": snap["version"], "files_with_dv": 0,
                "dv_rows_total": 0, "rewritten": 0}
    # Carry forward prior delete sets for the files we touch: each
    # file's action points at exactly ONE dv dir, so the new dir must
    # be the union of old positions and new matches for that file.
    old_dirs = sorted({a["dv"] for a in candidates.values() if a.get("dv")})
    if old_dirs:
        old = (
            spark.read.parquet(*[os.path.join(root, d) for d in old_dirs])
            .select("__rel", "__pos")
            .filter(F.col("__rel").isin(list(candidates)))
        )
        matches = matches.unionByName(old)
    matches = matches.dropDuplicates()
    sub = os.path.join(_DV_DIR, uuid.uuid4().hex)
    matches.write.mode("overwrite").parquet(os.path.join(root, sub))
    per_file = {
        r["__rel"]: r["n"]
        for r in spark.read.parquet(os.path.join(root, sub))
        .groupBy("__rel").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not per_file:
        return {"version": snap["version"], "files_with_dv": 0,
                "dv_rows_total": 0, "rewritten": 0}
    add = []
    for rel, action in candidates.items():
        if rel in per_file:
            a2 = dict(action)
            a2["dv"] = sub
            a2["dv_rows"] = per_file[rel]
            add.append(a2)
    v = _commit(root, "delete-dv", add, [])
    return {
        "version": v,
        "files_with_dv": len(per_file),
        "dv_rows_total": sum(per_file.values()),
        "rewritten": 0,
    }


def purge_dv(spark: SparkSession, root: str) -> int:
    """Materialize every deletion vector: rewrite ONLY the files that
    carry one (deleted rows dropped for real), leave every clean file
    untouched, and commit atomically — Delta's ``REORG TABLE …
    APPLY (PURGE)``. After the retention window, ``vacuum`` reclaims
    the orphaned dv dirs and pre-purge data files."""
    snap = snapshot(root)
    dved = sorted(r for r, a in snap["files"].items() if a.get("dv"))
    if not dved:
        return snap["version"]
    # equality deletes MUST ride the rewrite too: the fresh files get
    # a new data sequence number, so an un-applied equality delete
    # would stop applying to them and its rows would resurrect
    live = _read_files(spark, root, snap["files"], dved,
                       eq_deletes=snap.get("eq_deletes"))
    add = _write_data(live, root)
    return _commit(root, "purge-dv", add, dved)


# ---------------------------------------------------- bloom file index


def build_bloom_index(
    spark: SparkSession,
    root: str,
    col: str,
    m_bits: int = 8192,
    k: int = 4,
) -> int:
    """Attach a per-file Bloom filter on ``col`` to every live file's
    add action — Delta's bloom-filter index: point lookups on keys
    that are file-LOCALIZED but not range-clustered (user shards,
    ingest batches, hash buckets) prune files min/max stats cannot,
    because every file's min/max spans the whole key domain while its
    actual key SET is small.

    Build is one distributed scan: each row emits its ``k``
    xxhash64-seeded bit positions, a per-file ``collect_set`` (≤
    ``m_bits`` ints) folds them into a bitmap on the driver —
    same O(files) driver-side finalize as the stats harvest, flagged
    for task-commit piggybacking on a real cluster. The index rides a
    metadata-only commit (op ``bloom-index``); data bytes are
    untouched, and any later rewrite simply drops the file's bloom
    (lookups degrade to stats pruning, stay correct).

    FPR ≈ (1 − e^(−k·n/m))^k — with n≈200 distinct keys/file at the
    default (m=8192, k=4) that is ~6e-5; size ``m_bits`` ≈ 40× the
    expected distinct keys per file for sub-1e-4 rates.
    """
    import base64

    snap = snapshot(root)
    files = snap["files"]
    todo = {r: a for r, a in files.items()
            if col not in a.get("bloom", {})}
    if not todo:
        return snap["version"]
    df = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(root, p) for p in sorted(todo)])
        .withColumn("__rel", _rel_path_expr())
    )
    pos = F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
            for i in range(k)
        ]
    )
    per_file = (
        df.select("__rel", F.explode(pos).alias("__b"))
        .groupBy("__rel")
        .agg(F.collect_set("__b").alias("bits"))
        .collect()
    )
    bitmaps = {}
    for r in per_file:
        buf = bytearray(m_bits // 8)
        for b in r["bits"]:
            buf[b // 8] |= 1 << (b % 8)
        bitmaps[r["__rel"]] = base64.b64encode(bytes(buf)).decode()
    add = []
    for rel, action in todo.items():
        a2 = dict(action)
        blooms = dict(a2.get("bloom", {}))
        blooms[col] = {
            "m": m_bits,
            "k": k,
            "bits": bitmaps.get(rel, base64.b64encode(bytes(m_bits // 8)).decode()),
        }
        a2["bloom"] = blooms
        add.append(a2)
    return _commit(root, "bloom-index", add, [])


def bloom_lookup(
    spark: SparkSession, root: str, col: str, value
) -> DataFrame:
    """Point-lookup scan pruned by the per-file Bloom index: a file
    survives only if ALL ``k`` bit positions of ``value`` are set in
    its bloom on ``col`` (files without one conservatively survive,
    and footer stats prune on top). Like ``read(prune=...)`` this is
    an optimization — apply ``.filter(col = value)`` to the result.

    The literal's bit positions come from one 1-row Spark job so the
    hash is EXACTLY the engine's xxhash64 — no Python reimplementation
    to drift."""
    import base64

    snap = snapshot(root)
    files = snap["files"]
    configs = sorted(
        {
            (a["bloom"][col]["m"], a["bloom"][col]["k"])
            for a in files.values()
            if col in a.get("bloom", {})
        }
    )
    # xxhash64 is TYPE-sensitive: hash the literal as the table's
    # column type or the positions will not match the build's
    dtype = dict(table_schema(root) or [])
    lit = F.lit(value)
    if col in dtype:
        lit = lit.cast(dtype[col])
    pos_by_config = {}
    for m, k in configs:
        row = (
            spark.range(1)
            .select(
                F.array(
                    *[
                        F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                ).alias("p")
            )
            .first()
        )
        pos_by_config[(m, k)] = list(row["p"])

    def keep(a: dict) -> bool:
        bl = a.get("bloom", {}).get(col)
        if bl is None:
            return _stats_overlap(a, col, value, value)
        buf = base64.b64decode(bl["bits"])
        for b in pos_by_config[(bl["m"], bl["k"])]:
            if not buf[b // 8] & (1 << (b % 8)):
                return False
        return _stats_overlap(a, col, value, value)

    kept = {p: a for p, a in files.items() if keep(a)}
    if not kept:
        if not files:
            raise FileNotFoundError(f"txn table {root!r} has no live files")
        some = next(iter(files))
        schema = spark.read.parquet(os.path.join(root, some)).schema
        return spark.createDataFrame([], schema)
    return _read_files(spark, root, kept, eq_deletes=snap.get("eq_deletes"))


# ------------------------------------------------- hidden partitioning
#
# Iceberg's partition-transform model: the table declares TRANSFORMS of
# source columns — bucket(n, col), truncate(w, col), year/month/day(ts),
# identity(col) — and the writer derives the partition values; readers
# filter on the SOURCE column and the engine converts the predicate to
# partition predicates. Users never see (or mis-write) a partition
# column, and changing the query never silently loses pruning. Derived
# columns live only in directory names; the data files keep the source
# columns, so any rewrite (compact/merge) that drops the layout is
# still CORRECT — pruning degrades to footer stats, nothing else.


def _pcol_name(tf) -> str:
    kind = tf[0]
    if kind in ("year", "month", "day", "identity"):
        return f"_p_{kind}_{tf[1]}"
    return f"_p_{kind}{tf[2]}_{tf[1]}"  # _p_bucket8_k / _p_truncate4_k


def _transform_col(df: DataFrame, tf):
    """The Spark expression deriving one hidden partition value."""
    kind, col = tf[0], tf[1]
    if kind == "bucket":
        # crc32 over the utf8 decimal rendering: same polynomial as
        # zlib.crc32, so the driver can bucket literals for pruning
        return F.pmod(
            F.crc32(F.col(col).cast("string").cast("binary")), F.lit(tf[2])
        ).cast("int")
    if kind == "truncate":
        w = tf[2]
        dt = dict(df.dtypes)[col]
        if dt in ("tinyint", "smallint", "int", "bigint"):
            return (F.floor(F.col(col) / w) * w).cast("long")
        return F.substring(F.col(col), 1, w)
    if kind in ("year", "month", "day"):
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}[kind]
        return F.date_format(F.col(col), fmt)
    if kind == "identity":
        return F.col(col)
    raise ValueError(f"unknown partition transform {kind!r}")


def transform_literal(tf, v):
    """Driver-side twin of :func:`_transform_col` — buckets/truncates
    a Python literal so predicate-to-partition conversion needs no
    Spark job. Monotonic transforms (truncate, year/month/day) also
    map range endpoints."""
    import zlib

    kind = tf[0]
    if kind == "bucket":
        return zlib.crc32(str(v).encode()) % tf[2]
    if kind == "truncate":
        if isinstance(v, int):
            return (v // tf[2]) * tf[2]
        return str(v)[: tf[2]]
    if kind in ("year", "month", "day"):
        s = v.isoformat(sep=" ") if hasattr(v, "isoformat") else str(v)
        return s[: {"year": 4, "month": 7, "day": 10}[kind]]
    if kind == "identity":
        return v
    raise ValueError(f"unknown partition transform {kind!r}")


def _partition_values_from_path(rel: str, spec) -> dict:
    """Parse `name=value` hive segments of a data-file path back to
    typed partition values (int for bucket / integer-truncate)."""
    int_cols = set()
    for tf in spec:
        if tf[0] == "bucket" or (
            tf[0] == "truncate" and tf[3] == "long"
        ) or (tf[0] == "identity" and len(tf) > 2 and tf[2] == "long"):
            int_cols.add(_pcol_name(tf))
    out: dict = {}
    for seg in rel.split(os.sep):
        if "=" not in seg:
            continue
        name, val = seg.split("=", 1)
        out[name] = int(val) if name in int_cols else val
    return out


def table_partitioning(root: str):
    """The table's current partition-transform spec (from the latest
    commit that declared one), or None."""
    for v in reversed(_list_versions(root)):
        c = _read_commit(root, v)
        if "partitioning" in c:
            return [tuple(tf) for tf in c["partitioning"]]
    return None


def write_partitioned(
    df: DataFrame,
    root: str,
    transforms,
    mode: str = "append",
    merge_schema: bool = False,
) -> int:
    """Append/overwrite laying files out by PARTITION TRANSFORMS:
    ``transforms`` is a list like ``[("bucket", "cust_id", 8),
    ("month", "ts")]``. Derived values go to hive directory names
    only — the data files keep just the source columns (readers never
    see a partition column), and each add action records its typed
    partition values so ``read_partitioned`` prunes without listing
    or opening anything."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    schema = _check_schema(df, root, mode, merge_schema)
    dtypes = dict(df.dtypes)
    # normalize spec: truncate records its result type so path values
    # parse back typed
    spec = []
    for tf in transforms:
        if tf[0] in ("truncate", "identity"):
            rtype = (
                "long"
                if dtypes[tf[1]] in ("tinyint", "smallint", "int", "bigint")
                else "string"
            )
            if tf[0] == "truncate":
                spec.append((tf[0], tf[1], tf[2], rtype))
            else:
                spec.append((tf[0], tf[1], rtype))
        else:
            spec.append(tuple(tf))
    adds = _write_data_by_spec(df, root, spec)
    remove = (
        list(snapshot(root)["files"])
        if (mode == "overwrite" and is_txn_table(root))
        else []
    )
    return _commit(
        root, mode, adds, remove,
        extra={"schema": schema, "partitioning": [list(tf) for tf in spec]},
    )


def _write_data_by_spec(df: DataFrame, root: str, spec) -> list[dict]:
    """Write one commit's data laid out by the partition-transform
    spec; returns add actions carrying stats AND typed partition
    values parsed back from the hive directory names."""
    pcols = [_pcol_name(tf) for tf in spec]
    out = df
    for tf, name in zip(spec, pcols):
        out = out.withColumn(name, _transform_col(df, tf))
    sub = os.path.join("data", uuid.uuid4().hex)
    out.write.mode("overwrite").partitionBy(*pcols).parquet(
        os.path.join(root, sub)
    )
    rels = []
    for dirpath, _dirs, fnames in os.walk(os.path.join(root, sub)):
        for f in fnames:
            if f.endswith(".parquet"):
                rels.append(os.path.relpath(os.path.join(dirpath, f), root))
    adds = _harvest_stats(root, sorted(rels))
    for a in adds:
        a["partition"] = _partition_values_from_path(a["path"], spec)
    return adds


def read_partitioned(
    spark: SparkSession,
    root: str,
    eq: dict | None = None,
    ranges: dict | None = None,
    version: int | None = None,
) -> DataFrame:
    """Hidden-partition-aware scan: ``eq``/``ranges`` filters are on
    SOURCE columns; the engine converts them through the table's
    transform spec to partition-value predicates (bucket: equality
    only; truncate/year/month/day: monotonic, so ranges map to
    transformed-endpoint ranges) and drops non-matching files from
    the log alone. Footer min/max stats prune on top, so files
    rewritten without the layout (compact/merge) still skip. Like
    ``read(prune=...)`` this is an OPTIMIZATION — apply the row
    filter too."""
    spec = table_partitioning(root) or []
    snap = snapshot(root, version)
    files = snap["files"]
    eq = eq or {}
    ranges = ranges or {}

    def keep(a: dict) -> bool:
        part = a.get("partition")
        if part:
            for tf in spec:
                name, kind, col = _pcol_name(tf), tf[0], tf[1]
                if name not in part:
                    continue
                pv = part[name]
                if col in eq and pv != transform_literal(tf, eq[col]):
                    return False
                if col in ranges and kind != "bucket":
                    lo, hi = ranges[col]
                    if pv < transform_literal(tf, lo) or pv > transform_literal(
                        tf, hi
                    ):
                        return False
        # footer-stat pruning on top
        for col, v in eq.items():
            if not _stats_overlap(a, col, v, v):
                return False
        for col, (lo, hi) in ranges.items():
            if not _stats_overlap(a, col, lo, hi):
                return False
        return True

    kept = {p: a for p, a in files.items() if keep(a)}
    if not kept:
        if not files:
            raise FileNotFoundError(f"txn table {root!r} has no live files")
        some = next(iter(files))
        schema = spark.read.parquet(os.path.join(root, some)).schema
        return spark.createDataFrame([], schema)
    return _read_files(spark, root, kept, eq_deletes=snap.get("eq_deletes"))


def delete_where_eq(
    spark: SparkSession, root: str, keys: DataFrame
) -> dict:
    """Equality delete — Iceberg v2's second delete type: drop every
    row matching any key tuple in ``keys`` (a small frame whose
    column names select the match columns), WITHOUT reading or
    writing a single data file. The commit stores only the key set
    (parquet under ``_eqdel/``) and its version; readers anti-join it
    against files whose data sequence number (``_v``) is older —
    so a later append of the same key is NOT deleted (the ordering a
    CDC upsert-after-delete stream needs).

    Positional vs equality trade (both supported, as in Iceberg):
    ``delete_where_dv`` scans candidates once to pin exact row
    positions — reads pay a per-file position anti-join;
    ``delete_where_eq`` is O(keys) at write time — the whole scan
    cost moves to readers (a key anti-join on EVERY older file) until
    a rewrite or ``purge_deletes`` materializes it. Streaming CDC
    writers that cannot afford a lookup use equality; batch erasure
    jobs prefer positional."""
    _require_table(root)
    cols = list(keys.columns)
    sub = os.path.join(_EQDEL_DIR, uuid.uuid4().hex)
    keys.dropDuplicates().write.mode("overwrite").parquet(
        os.path.join(root, sub)
    )
    v = _commit(root, "delete-eq", [], [],
                extra={"eq_delete": {"path": sub, "cols": cols}})
    return {"version": v, "rewritten": 0, "cols": cols}


def purge_deletes(spark: SparkSession, root: str) -> int:
    """Materialize EVERY merge-on-read delete — deletion vectors and
    applicable equality deletes: rewrite only the affected files
    (clean files untouched), commit atomically. Rewritten files get
    a new data sequence number, so prior equality deletes no longer
    apply to them; ``vacuum`` then reclaims obsolete delete sets."""
    snap = snapshot(root)
    eq = snap.get("eq_deletes", [])
    affected = sorted(
        r for r, a in snap["files"].items()
        if a.get("dv")
        or any(ed["version"] > a.get("_v", 0) for ed in eq)
    )
    if not affected:
        return snap["version"]
    live = _read_files(spark, root, snap["files"], affected, eq_deletes=eq)
    add = _write_data(live, root)
    return _commit(root, "purge-deletes", add, affected)


def compact(spark: SparkSession, root: str, target_files: int = 1) -> int:
    """Bin-pack the live files into ``target_files`` — the
    small-files compaction every streaming-append table needs; old
    files drop from the snapshot atomically, vacuum reclaims them.
    On a hidden-partitioned table the rewrite RESPECTS the transform
    spec (Iceberg's rewrite contract): files stay partition-pure, so
    ``read_partitioned`` keeps pruning after maintenance
    (``target_files`` then bounds files *per partition*)."""
    snap = snapshot(root)
    if len(snap["files"]) <= target_files and not any(
        a.get("dv") for a in snap["files"].values()
    ):
        return snap["version"]
    cur = _read_files(spark, root, snap["files"],
                      eq_deletes=snap.get("eq_deletes"))
    spec = table_partitioning(root)
    if spec:
        add = _write_data_by_spec(cur, root, spec)
    else:
        add = _write_data(cur.coalesce(target_files), root)
    return _commit(root, "compact", add, sorted(snap["files"]))


def vacuum(root: str, retain_versions: int = 1) -> int:
    """Physically delete data files referenced by NO snapshot within
    the last ``retain_versions`` commits (time travel inside the
    retention window keeps working). Returns files deleted."""
    versions = _list_versions(root)
    if not versions:
        return 0
    keep: set[str] = set()
    dv_keep: set[str] = set()
    eq_keep: set[str] = set()
    for v in versions[-retain_versions:]:
        snap_v = snapshot(root, v)
        files = snap_v["files"]
        keep.update(files)
        dv_keep.update(a["dv"] for a in files.values() if a.get("dv"))
        # an equality-delete set is live while ANY retained snapshot
        # still has a file old enough for it to apply to
        for ed in snap_v.get("eq_deletes", []):
            if any(
                a.get("_v", 0) < ed["version"] for a in files.values()
            ):
                eq_keep.add(ed["path"])
    data_root = os.path.join(root, "data")
    deleted = 0
    if os.path.isdir(data_root):
        # walk RECURSIVELY: hidden-partitioned commits nest hive dirs
        # below the commit uuid, and those files must be reclaimable
        for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
            for f in filenames:
                full = os.path.join(dirpath, f)
                rel = os.path.relpath(full, root)
                if f.endswith(".parquet") and rel not in keep:
                    os.remove(full)
                    deleted += 1
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
    # delete-set dirs (positional + equality) referenced by no
    # retained snapshot, or whose equality delete no longer applies
    # to any live file
    import shutil

    for base, keeps in ((_DV_DIR, dv_keep), (_EQDEL_DIR, eq_keep)):
        d = os.path.join(root, base)
        if not os.path.isdir(d):
            continue
        for sub in os.listdir(d):
            rel = os.path.join(base, sub)
            if rel not in keeps:
                shutil.rmtree(os.path.join(d, sub))
                deleted += 1
    return deleted


# ------------------------------------------------- streaming / CDC surface


def committed_stream_batches(root: str) -> set[int]:
    """Streaming-batch ids already durably committed to this table
    (the idempotence ledger for exactly-once foreachBatch sinks)."""
    out = set()
    for v in _list_versions(root):
        c = _read_commit(root, v)
        if "stream_batch_id" in c:
            out.add(c["stream_batch_id"])
    return out


def stream_append_sink(root: str):
    """foreachBatch body giving EXACTLY-ONCE appends over the txn
    log: each micro-batch lands as one atomic commit stamped with
    its Structured Streaming batch id; a retried batch (failure
    between sink success and checkpoint advance — the classic
    at-least-once window) finds its id already in the log and
    becomes a no-op. This is the same idempotent-sink discipline
    Delta's ``txnAppId``/``txnVersion`` options implement.

    Usage: ``stream.writeStream.foreachBatch(stream_append_sink(p))``
    """

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_stream_batches(root):
            return  # replay after partial failure: already durable
        schema = _check_schema(batch_df, root, "append", merge_schema=False)
        _enforce_constraints(batch_df, root)
        add = _write_data(batch_df, root)
        _commit(root, "stream-append", add, [],
                extra={"stream_batch_id": batch_id, "schema": schema})

    return _body


def stream_merge_sink(root: str, keys: list[str]):
    """foreachBatch body for EXACTLY-ONCE keyed streaming upserts —
    the CDC-ingest companion to ``stream_append_sink``: each
    micro-batch lands as one file-pruned ``merge_upsert`` commit
    stamped with the stream batch id; a replayed batch finds its id
    in the ledger and no-ops. Within a batch, the LAST row per key
    wins (upsert order of a CDC stream); only table files whose key
    stats intersect the batch rewrite.

    Usage::

        stream.writeStream.foreachBatch(stream_merge_sink(p, ["k"]))
    """

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_stream_batches(root):
            return  # replay after partial failure: already durable
        from pyspark.sql.window import Window

        w = Window.partitionBy(*keys).orderBy(
            F.monotonically_increasing_id().desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not is_txn_table(root):
            schema = _check_schema(latest, root, "append", merge_schema=False)
            add = _write_data(latest, root)
            _commit(root, "stream-merge", add, [],
                    extra={"stream_batch_id": batch_id, "schema": schema})
            return
        spark = batch_df.sparkSession
        _enforce_constraints(latest, root)
        bounds = latest.agg(
            *[f for k in keys for f in (
                F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}"),
            )]
        ).collect()[0]
        for _ in range(8):
            snap = snapshot(root)
            touched, untouched = [], []
            for rel, a in snap["files"].items():
                hit = all(
                    _stats_overlap(a, k, bounds[f"lo_{k}"], bounds[f"hi_{k}"])
                    for k in keys
                )
                (touched if hit else untouched).append(rel)
            if touched:
                cur = _read_files(spark, root, snap["files"], sorted(touched),
                                  eq_deletes=snap.get("eq_deletes"))
                kept = cur.join(latest.select(*keys), keys, "left_anti")
                merged = kept.unionByName(latest, allowMissingColumns=True)
            else:
                merged = latest
            add = _write_data(merged, root)
            try:
                _commit(root, "stream-merge", add, sorted(touched),
                        expect_version=snap["version"],
                        extra={"stream_batch_id": batch_id})
                return
            except ConflictError:
                continue
        raise ConflictError(
            f"txn_table: stream merge on {root!r} lost 8 OCC races"
        )

    return _body


def read_changes(
    spark: SparkSession,
    root: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC feed from the log: every row ADDED by commits in
    (since_version, to_version], tagged with ``_commit_version`` and
    ``_commit_op``. For append/stream-append commits this is the
    exact inserted row set; for merge/compact commits the added
    files also contain carried-over rows from rewritten files
    (upsert-style CDC — downstream consumers apply by key), which is
    the documented Delta CDF-without-_change_type trade-off.
    Incremental consumers poll ``snapshot(root)["version"]`` and read
    forward — never a full-table diff."""
    versions = [
        v for v in _list_versions(root)
        if v > since_version and (to_version is None or v <= to_version)
    ]
    parts = []
    for v in versions:
        c = _read_commit(root, v)
        adds = c.get("add", [])
        if not adds or c.get("op") in ("delete-dv", "bloom-index"):
            # delete-dv / bloom-index commits are METADATA-ONLY
            # re-adds (a dv
            # reference attached to existing files): no new rows to
            # feed the add-only CDC stream. The deletions themselves
            # are invisible to this feed — the documented
            # CDF-without-_change_type trade-off; consumers that must
            # see deletes diff snapshots (cdc.snapshot_diff) or use
            # mv_refresh's dirty-group protocol.
            continue
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(root, a["path"]) for a in adds]
        )
        parts.append(
            df.withColumn("_commit_version", F.lit(v))
            .withColumn("_commit_op", F.lit(c.get("op", "?")))
        )
    if not parts:
        raise FileNotFoundError(
            f"txn table {root!r}: no commits after v{since_version}"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def read_changes_typed(
    spark: SparkSession,
    root: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """TYPED change feed — the Delta CDF surface ``read_changes``
    explicitly trades away, reconstructed from the log: every row
    change in ``(since_version, to_version]`` tagged
    ``_change_type`` ∈ {insert, delete} plus ``_commit_version`` /
    ``_commit_op``. Updates surface as delete+insert pairs (without
    declared keys the log cannot pair pre/post images; keyed
    consumers re-derive updates by joining the two sides).

    The diff is over LOGICAL content: rewrite commits compare the
    removed files read UNDER THE PRE-COMMIT SNAPSHOT's delete sets
    against the added files, so a compaction / z-order / purge that
    only reshapes storage reports ZERO changes, a merge reports only
    the rows it actually changed (carried-over rows cancel in
    ``exceptAll``), and deletion-vector / equality-delete commits
    report exactly the rows they shadowed. Costs are commit-bounded
    (each commit diffs only its own add/remove sets), never
    O(table).

    Requirements honestly stated: removed files and superseded
    delete sets must still exist — run inside the vacuum retention
    window. A row deleted twice by overlapping mechanisms (eq-deleted
    then swept into a dv) can be reported per mechanism.
    """
    versions = [
        v for v in _list_versions(root)
        if v > since_version and (to_version is None or v <= to_version)
    ]
    if not versions:
        raise FileNotFoundError(
            f"txn table {root!r}: no commits after v{since_version}"
        )

    def tag(df: DataFrame, typ: str, v: int, op: str) -> DataFrame:
        return (
            df.withColumn("_change_type", F.lit(typ))
            .withColumn("_commit_version", F.lit(v))
            .withColumn("_commit_op", F.lit(op))
        )

    parts: list[DataFrame] = []
    for v in versions:
        c = _read_commit(root, v)
        op = c.get("op", "?")
        if op == "bloom-index":
            continue  # metadata-only re-add: zero logical changes
        pre = (
            snapshot(root, v - 1)
            if v > 1
            else {"files": {}, "eq_deletes": []}
        )
        if op == "delete-dv":
            adds = c.get("add", [])
            rels = sorted(a["path"] for a in adds)
            new_dirs = sorted({a["dv"] for a in adds if a.get("dv")})
            old_dirs = sorted(
                {
                    pre["files"][r]["dv"]
                    for r in rels
                    if pre["files"].get(r, {}).get("dv")
                }
            )
            new_pos = (
                spark.read.parquet(*[os.path.join(root, d) for d in new_dirs])
                .select("__rel", "__pos")
                .filter(F.col("__rel").isin(rels))
            )
            if old_dirs:
                old_pos = (
                    spark.read.parquet(
                        *[os.path.join(root, d) for d in old_dirs]
                    )
                    .select("__rel", "__pos")
                    .filter(F.col("__rel").isin(rels))
                )
                new_pos = new_pos.exceptAll(old_pos)
            rows = (
                spark.read.option("mergeSchema", "true")
                .parquet(*[os.path.join(root, r) for r in rels])
                .withColumn("__rel", _rel_path_expr())
                .withColumn("__pos", F.col("_metadata.row_index"))
                .join(F.broadcast(new_pos), ["__rel", "__pos"], "left_semi")
                .drop("__rel", "__pos")
            )
            parts.append(tag(rows, "delete", v, op))
            continue
        if op == "delete-eq":
            ed = c["eq_delete"]
            affected = sorted(
                r for r, a in pre["files"].items() if a.get("_v", 0) < v
            )
            if affected:
                rows = _read_files(
                    spark, root, pre["files"], affected,
                    eq_deletes=pre["eq_deletes"],
                )
                keys = (
                    spark.read.parquet(os.path.join(root, ed["path"]))
                    .select(*ed["cols"])
                    .dropDuplicates()
                )
                parts.append(
                    tag(
                        rows.join(
                            F.broadcast(keys), list(ed["cols"]), "left_semi"
                        ),
                        "delete", v, op,
                    )
                )
            continue
        adds = sorted(a["path"] for a in c.get("add", []))
        rems = sorted(c.get("remove", []))
        cur_files = dict(pre["files"])
        for a in c.get("add", []):
            cur_files[a["path"]] = a
        new_rows = (
            _read_files(spark, root, cur_files, adds) if adds else None
        )
        old_rows = (
            _read_files(
                spark, root, pre["files"], rems,
                eq_deletes=pre["eq_deletes"],
            )
            if rems
            else None
        )
        if new_rows is not None and old_rows is not None:
            parts.append(tag(new_rows.exceptAll(old_rows), "insert", v, op))
            parts.append(tag(old_rows.exceptAll(new_rows), "delete", v, op))
        elif new_rows is not None:
            parts.append(tag(new_rows, "insert", v, op))
        elif old_rows is not None:
            parts.append(tag(old_rows, "delete", v, op))
    if not parts:
        raise FileNotFoundError(
            f"txn table {root!r}: no data-changing commits after "
            f"v{since_version}"
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_, allowMissingColumns=True)
    return out


def zorder_compact(
    spark: SparkSession,
    root: str,
    cols: list[str],
    target_files: int = 8,
    bits: int = 8,
) -> int:
    """Rewrite the live files clustered on a Z-order (Morton) curve
    over ``cols`` — the published multi-column data-skipping layout
    (Delta OPTIMIZE ZORDER BY; Iceberg sort orders): after the
    rewrite, every file's min/max range is tight on EVERY listed
    column, so ``read(..., prune=...)`` skips files for predicates on
    any of them. A single-column sort gives tight stats on that
    column only; interleaving bucket bits gives locality on all.

    Plan shape (no global sort, no driver data): the driver collects
    two scalars per column (min/max); rows map to 2^bits uniform
    bucket codes via ``width_bucket`` and to one long z-value by bit
    interleaving — pure column expressions, whole-stage codegen; the
    clustered write is ``repartitionByRange(z)`` (sampled range
    exchange, which also rebalances ROWS per file when bucket
    occupancy is skewed) + ``sortWithinPartitions(z)``. Commits like
    compact: new files added, all previous files removed, atomically.
    """
    snap = snapshot(root)
    if not snap["files"]:
        return snap["version"]
    cur = _read_files(spark, root, snap["files"],
                      eq_deletes=snap.get("eq_deletes"))
    n_buckets = 1 << bits
    rng = cur.agg(
        *[f for c in cols for f in (
            F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
            F.max(F.col(c).cast("double")).alias(f"hi_{c}"),
        )]
    ).collect()[0]
    z = None
    for ci, c in enumerate(cols):
        lo, hi = rng[f"lo_{c}"], rng[f"hi_{c}"]
        if lo is None or hi is None or lo == hi:
            continue  # constant / all-null column adds no locality
        code = (
            F.width_bucket(
                F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_buckets)
            )
            - 1
        )
        code = F.least(
            F.greatest(F.coalesce(code, F.lit(0)), F.lit(0)),
            F.lit(n_buckets - 1),
        ).cast("long")
        # interleave: bit j of this column's code lands at position
        # j*len(cols)+ci of the z-value
        contrib = None
        for j in range(bits):
            piece = F.shiftleft(
                F.shiftright(code, j).bitwiseAND(F.lit(1)), j * len(cols) + ci
            )
            contrib = piece if contrib is None else contrib.bitwiseOR(piece)
        z = contrib if z is None else z.bitwiseOR(contrib)
    if z is None:
        return compact(spark, root, target_files)
    clustered = (
        cur.withColumn("__z", z)
        .repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    add = _write_data(clustered, root)
    return _commit(root, "zorder", add, sorted(snap["files"]))


# ---------------------------------------------------------- maintenance


def table_stats(root: str) -> dict:
    """Log-derived health stats (no data scan, no file LIST): live
    file count/rows/small-file count, commits since the last log
    checkpoint, and tombstoned files a vacuum would reclaim."""
    snap = snapshot(root)
    versions = _list_versions(root)
    cp = _checkpoint_doc(root)
    rows = sum(a.get("rows", 0) for a in snap["files"].values())
    dv_rows = sum(a.get("dv_rows", 0) for a in snap["files"].values())
    live = set(snap["files"])
    removed: set[str] = set()
    for v in versions:
        removed.update(_read_commit(root, v).get("remove", []))
    small = sum(1 for a in snap["files"].values() if a.get("rows", 0) < 100_000)
    # a tombstone is reclaimable only while the file still exists —
    # vacuumed files stay in the log's remove actions forever
    tomb = sum(
        1 for r in (removed - live) if os.path.exists(os.path.join(root, r))
    )
    return {
        "version": snap["version"],
        "live_files": len(snap["files"]),
        "live_rows": rows,
        # physical minus dv-deleted = what a scan returns
        "logical_rows": rows - dv_rows,
        "dv_deleted_rows": dv_rows,
        "files_with_dv": sum(
            1 for a in snap["files"].values() if a.get("dv")
        ),
        "small_files": small,
        "commits_since_checkpoint": snap["version"] - (cp["version"] if cp else 0),
        "tombstoned_files": tomb,
    }


def plan_maintenance(
    root: str,
    max_small_files: int = 16,
    max_log_tail: int = 32,
    min_tombstones: int = 16,
) -> list[str]:
    """The background-optimizer decision list ('compact', 'zorder'
    is policy — not auto-recommended, it needs column choice,
    'checkpoint_log', 'vacuum'), derived purely from the log: on a
    100 TB table this is the planner a maintenance cron calls — it
    never opens a data file. Execution stays explicit (each action
    is one function above) so operators control when rewrite IO
    happens."""
    st = table_stats(root)
    actions = []
    if st["small_files"] > max_small_files:
        actions.append("compact")
    # > 10% of physical rows shadowed by deletion vectors: the
    # per-read anti-join tax now outweighs a one-time rewrite
    if st["live_rows"] and st["dv_deleted_rows"] > 0.10 * st["live_rows"]:
        actions.append("purge_dv")
    if st["commits_since_checkpoint"] > max_log_tail:
        actions.append("checkpoint_log")
    if st["tombstoned_files"] >= min_tombstones:
        actions.append("vacuum")
    return actions


def register_txn_view(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> None:
    """Expose the (optionally time-travel) snapshot to spark.sql as a
    temp view — the SQL-surface half of the table format."""
    read(spark, root, version=version).createOrReplaceTempView(name)


def describe_table(root: str) -> dict:
    """One-call operational summary — Delta's DESCRIBE DETAIL:
    stats, schema, partitioning spec, column mapping, constraints,
    delete-set state, and pending maintenance, all from the log."""
    st = table_stats(root)
    snap = snapshot(root)
    return {
        **st,
        "schema": table_schema(root),
        "partitioning": table_partitioning(root),
        "column_mapping": {
            k: v for k, v in table_mapping(root).items() if k != v
        },
        "constraints": table_constraints(root),
        "eq_deletes": len(snap.get("eq_deletes", [])),
        "maintenance": plan_maintenance(root),
    }


def metadata_df(spark: SparkSession, root: str, kind: str) -> DataFrame:
    """Iceberg-style queryable METADATA tables, derived purely from
    the log (no data file opened):

    * ``files`` — one row per live file: path, data sequence number,
      physical/dv-deleted rows, partition values (JSON), dv/bloom
      presence. The input to storage dashboards and maintenance SQL.
    * ``history`` — the commit trail with row/file deltas.
    * ``snapshots`` — per version: live files and rows after that
      commit (replayed; O(versions) small JSONs).

    Register with ``.createOrReplaceTempView(f"{name}_files")`` etc.
    for the SQL surface (``SELECT * FROM t_files WHERE dv_rows > 0``).
    """
    if kind == "files":
        snap = snapshot(root)
        rows = [
            (
                rel,
                int(a.get("_v", 0)),
                int(a.get("rows", 0)),
                int(a.get("dv_rows", 0)),
                json.dumps(a.get("partition"), sort_keys=True)
                if a.get("partition") else None,
                bool(a.get("dv")),
                sorted(a.get("bloom", {}).keys()),
            )
            for rel, a in sorted(snap["files"].items())
        ]
        return spark.createDataFrame(
            rows,
            "path string, sequence int, rows long, dv_rows long, "
            "partition string, has_dv boolean, bloom_cols array<string>",
        )
    if kind == "history":
        rows = []
        for h in history(root):
            c = _read_commit(root, h["version"])
            rows.append(
                (
                    h["version"], h["op"], float(h["ts"] or 0.0),
                    h["added"], h["removed"],
                    int(sum(a.get("rows", 0) for a in c.get("add", []))),
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, op string, ts double, files_added int, "
            "files_removed int, rows_added long",
        )
    if kind == "snapshots":
        rows = []
        for v in _list_versions(root):
            snap = snapshot(root, v)
            rows.append(
                (
                    v,
                    len(snap["files"]),
                    int(sum(a.get("rows", 0) for a in snap["files"].values())),
                    int(
                        sum(
                            a.get("dv_rows", 0)
                            for a in snap["files"].values()
                        )
                    ),
                )
            )
        return spark.createDataFrame(
            rows, "version int, live_files int, rows long, dv_rows long"
        )
    raise ValueError(f"unknown metadata table {kind!r}")


def scd2_merge_txn(
    spark: SparkSession,
    root: str,
    staging: DataFrame,
    keys: list[str],
    close_ts,
    actv_col: str = "actv_flg",
    record_to_col: str = "record_to",
    max_attempts: int = 8,
) -> dict:
    """SCD Type-2 load as ONE file-pruned log commit — the
    reference's dimension flow (loading.py:25-133: close out active
    rows for staged keys, insert every staged row as the new 'Y'
    version) riding the transaction log: only files whose key stats
    intersect the staging batch are rewritten for the close-out;
    untouched files — the overwhelming majority of a 100 TB dimension
    under a daily batch — survive the commit byte-identical. The
    close-out rewrite and the new-version insert land ATOMICALLY
    (readers never see a dimension with closed rows but no successor
    versions). Same OCC discipline as merge_upsert."""
    bounds = staging.agg(
        *[f for k in keys for f in (
            F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}"),
        )]
    ).collect()[0]
    new_rows = staging.withColumn(actv_col, F.lit("Y")).withColumn(
        record_to_col, F.lit(None).cast("timestamp")
    )
    staged_keys = staging.select(*keys).distinct()
    for _ in range(max_attempts):
        snap = snapshot(root)
        touched, untouched = [], []
        for rel, add in snap["files"].items():
            hit = all(
                _stats_overlap(add, k, bounds[f"lo_{k}"], bounds[f"hi_{k}"])
                for k in keys
            )
            (touched if hit else untouched).append(rel)
        if touched:
            cur = _read_files(spark, root, snap["files"], sorted(touched),
                              eq_deletes=snap.get("eq_deletes"))
            marked = cur.join(
                F.broadcast(staged_keys.withColumn("__m", F.lit(1))),
                keys,
                "left",
            )
            closing = (F.col("__m") == 1) & (F.col(actv_col) == "Y")
            closed = marked.select(
                *[
                    c for c in cur.columns
                    if c not in (actv_col, record_to_col)
                ],
                F.when(closing, F.lit("N")).otherwise(F.col(actv_col)).alias(
                    actv_col
                ),
                F.when(closing, close_ts).otherwise(
                    F.col(record_to_col)
                ).alias(record_to_col),
            )
            out = closed.unionByName(new_rows.select(*closed.columns))
        else:
            out = new_rows
        add_actions = _write_data(out, root)
        try:
            v = _commit(root, "scd2-merge", add_actions, sorted(touched),
                        expect_version=snap["version"],
                        extra={"schema": _schema_fields(out)})
        except ConflictError:
            continue
        return {"version": v, "rewritten": len(touched),
                "untouched": len(untouched)}
    raise ConflictError(
        f"txn_table: scd2 merge on {root!r} lost {max_attempts} OCC races"
    )


def restore(root: str, version: int) -> int:
    """Delta RESTORE semantics: make the live state equal to snapshot
    ``version`` via a NEW commit (linear history — the bad commits
    stay in the log for audit; nothing is deleted until vacuum).
    Requires the restored snapshot's files to still exist (i.e.
    within the vacuum retention window)."""
    old = snapshot(root, version)
    cur = snapshot(root)
    missing = [
        p for p in old["files"] if not os.path.exists(os.path.join(root, p))
    ]
    if missing:
        raise FileNotFoundError(
            f"txn_table: cannot restore v{version}; {len(missing)} file(s) "
            f"already vacuumed (e.g. {missing[0]!r})"
        )
    add = [a for p, a in old["files"].items() if p not in cur["files"]]
    remove = sorted(set(cur["files"]) - set(old["files"]))
    sch = None
    for v in range(version, 0, -1):
        c = _read_commit(root, v)
        if "schema" in c:
            sch = c["schema"]
            break
    extra = {"restored_from": version}
    if sch:
        extra["schema"] = sch
    return _commit(root, "restore", add, remove, extra=extra)


def fsck(root: str, verify_stats: bool = False) -> dict:
    """Log/storage consistency audit — the operational check a
    maintenance cron pairs with plan_maintenance: every live file
    must exist with > 0 bytes; add-action row counts (and, under
    ``verify_stats``, min/max stats) must match the parquet footers;
    version numbering must be contiguous. Returns a report dict;
    ``report["ok"]`` is the gate. Never reads row data — footers
    only, O(live files)."""
    import pyarrow.parquet as pq

    problems: list[str] = []
    versions = _list_versions(root)
    if versions and versions != list(range(1, versions[-1] + 1)):
        missing = sorted(set(range(1, versions[-1] + 1)) - set(versions))
        problems.append(f"log gap: missing versions {missing[:5]}")
    snap = snapshot(root)
    checked = 0
    for rel, add in snap["files"].items():
        p = os.path.join(root, rel)
        if not os.path.exists(p):
            problems.append(f"live file missing: {rel}")
            continue
        if os.path.getsize(p) == 0:
            problems.append(f"live file empty: {rel}")
            continue
        md = pq.ParquetFile(p).metadata
        if md.num_rows != add.get("rows"):
            problems.append(
                f"row-count drift: {rel} log={add.get('rows')} "
                f"footer={md.num_rows}"
            )
        if add.get("dv") and not os.path.isdir(os.path.join(root, add["dv"])):
            problems.append(f"dv dir missing: {rel} -> {add['dv']}")
        if verify_stats and add.get("stats"):
            fresh = _harvest_stats(root, [rel])[0]["stats"]
            for col, st in add["stats"].items():
                got = fresh.get(col)
                if got is None or got["min"] != st["min"] or got["max"] != st["max"]:
                    problems.append(f"stats drift: {rel} col {col}")
        checked += 1
    for ed in snap.get("eq_deletes", []):
        applies = any(
            a.get("_v", 0) < ed["version"] for a in snap["files"].values()
        )
        if applies and not os.path.isdir(os.path.join(root, ed["path"])):
            problems.append(f"eq-delete set missing: {ed['path']}")
    return {
        "ok": not problems,
        "version": snap["version"],
        "files_checked": checked,
        "problems": problems,
    }
