"""Versioned parquet tables with an atomic commit log: snapshot
isolation, time travel, rollback, and idempotent (exactly-once)
commits — the transaction layer the lakehouse surface
(``sinks/layout.py``) writes into.

The design is the open-table-format core (Delta/Iceberg shape), kept
deliberately minimal:

- Data files are immutable parquet parts under ``<dir>/data/v<N>/``;
  nothing ever rewrites a data file.
- A commit is ONE atomically-created JSON entry
  ``<dir>/_txlog/<N>.json`` (``O_CREAT|O_EXCL`` — the filesystem's own
  compare-and-swap). Readers resolve a snapshot purely from committed
  entries, so a writer crashing mid-job leaves orphan data files but
  never a partial table (vacuum reclaims orphans).
- Optimistic concurrency: two writers racing for version N — exactly
  one wins the exclusive create; the loser gets
  :class:`ConcurrentCommitError` and retries on top of N.
- Entries carry incremental ``add``/``remove`` file lists plus, every
  ``checkpoint_every``-th commit, the full resolved file list — a
  reader replays from the nearest checkpoint, not from version 0 (the
  log-compaction idea that keeps O(commits) logs readable at
  100 TB; entry size stays O(changed files) between checkpoints).
- ``txn_id`` makes a commit idempotent: re-delivering the same
  (app-level) transaction — a restarted foreachBatch micro-batch — is
  detected and skipped, which is exactly-once sink semantics on top of
  Structured Streaming's at-least-once replay.

Time travel reads, ``history()``, ``rollback()`` (a restore COMMIT —
history is never rewritten), and ``vacuum()`` complete the contract.
Plain-filesystem like the other sinks (local in tests, any mounted FS
in deployment; on S3-class stores the exclusive-create becomes a
conditional PUT).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reload and retry."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_txlog")


def _entry_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.json")


def _versions(table_dir: str) -> list[int]:
    ld = _log_dir(table_dir)
    if not os.path.isdir(ld):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(ld)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _read_entry(table_dir: str, version: int) -> dict:
    with open(_entry_path(table_dir, version)) as f:
        return json.load(f)


def _snapshot(table_dir: str, version: int) -> dict:
    """Resolve (files, schema) at ``version``: start from the nearest
    checkpoint at or below it, replay the few entries after."""
    versions = [v for v in _versions(table_dir) if v <= version]
    if not versions:
        raise ValueError(f"no committed version <= {version} in {table_dir}")
    start = 0
    for v in reversed(versions):
        if "files" in _read_entry(table_dir, v):
            start = versions.index(v)
            break
    entry = _read_entry(table_dir, versions[start])
    files = set(entry.get("files", []))
    if "files" not in entry:  # version 0 without checkpoint: adds only
        files = set(entry.get("add", []))
    schema = entry["schema"]
    for v in versions[start + 1:]:
        e = _read_entry(table_dir, v)
        if "files" in e:
            files = set(e["files"])
        else:
            if e["mode"] == "overwrite":
                files = set()
            files -= set(e.get("remove", []))
            files |= set(e.get("add", []))
        schema = e["schema"]
    return {"files": sorted(files), "schema": schema}


def commit(df: DataFrame, table_dir: str, mode: str = "append",
           txn_id: str | None = None, operation: str = "write",
           checkpoint_every: int = 10) -> int:
    """Write ``df``'s rows as new immutable parquet parts and commit
    them as the next version. Returns the committed version number (or
    the existing version when ``txn_id`` was already committed — the
    idempotent-replay path).

    The data write happens BEFORE the log create; the exclusive create
    of ``_txlog/<N>.json`` is the commit point. On
    :class:`ConcurrentCommitError` the caller re-invokes; already-
    written data files from the lost race are orphans until
    :func:`vacuum`.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    existing = _versions(table_dir)
    version = (existing[-1] + 1) if existing else 0
    if txn_id is not None:
        for v in existing:
            if _read_entry(table_dir, v).get("txn_id") == txn_id:
                return v  # exactly-once: this transaction already landed

    vdir = os.path.join(table_dir, "data", f"v{version}")
    df.write.mode("overwrite").parquet(vdir)
    rel = os.path.join("data", f"v{version}")
    add = sorted(
        os.path.join(rel, f)
        for f in os.listdir(vdir)
        if f.endswith(".parquet")
    )
    entry = {
        "version": version,
        "mode": mode,
        "operation": operation,
        "add": add,
        "remove": [],
        "schema": df.schema.jsonValue(),
    }
    if txn_id is not None:
        entry["txn_id"] = txn_id
    if version % checkpoint_every == 0:
        prev = set()
        if mode == "append" and existing:
            prev = set(_snapshot(table_dir, existing[-1])["files"])
        entry["files"] = sorted(prev | set(add))
    _atomic_create(table_dir, version, entry)
    return version


def _atomic_create(table_dir: str, version: int, entry: dict) -> None:
    path = _entry_path(table_dir, version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise ConcurrentCommitError(
            f"version {version} already committed in {table_dir}"
        ) from exc
    with os.fdopen(fd, "w") as f:
        json.dump(entry, f, indent=1)


def read_table(spark: SparkSession, table_dir: str,
               version: int | None = None) -> DataFrame:
    """Snapshot read (latest, or time travel to ``version``). An empty
    snapshot still returns a correctly-typed empty DataFrame (schema is
    logged with every commit)."""
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"not a committed table: {table_dir}")
    v = versions[-1] if version is None else version
    snap = _snapshot(table_dir, v)
    schema = T.StructType.fromJson(snap["schema"])
    if not snap["files"]:
        return spark.createDataFrame([], schema)
    paths = [os.path.join(table_dir, f) for f in snap["files"]]
    return spark.read.schema(schema).parquet(*paths)


def history(table_dir: str) -> list[dict]:
    """Commit metadata, oldest first (version, mode, operation, txn_id,
    n_added/n_removed) — the audit trail."""
    out = []
    for v in _versions(table_dir):
        e = _read_entry(table_dir, v)
        out.append(
            {
                "version": v,
                "mode": e["mode"],
                "operation": e["operation"],
                "txn_id": e.get("txn_id"),
                "n_added": len(e.get("add", [])),
                "n_removed": len(e.get("remove", [])),
            }
        )
    return out


def rollback(spark: SparkSession, table_dir: str, to_version: int) -> int:
    """Restore the table to ``to_version``'s content as a NEW commit
    (history stays immutable; the bad versions remain inspectable).
    Returns the restore commit's version."""
    snap = _snapshot(table_dir, to_version)
    versions = _versions(table_dir)
    version = versions[-1] + 1
    entry = {
        "version": version,
        "mode": "overwrite",
        "operation": f"rollback(to={to_version})",
        "add": snap["files"],  # re-reference, no data copied
        "remove": [],
        "schema": snap["schema"],
        "files": snap["files"],  # restore commits are checkpoints
    }
    _atomic_create(table_dir, version, entry)
    return version


def vacuum(table_dir: str, keep_versions: int = 1) -> list[str]:
    """Delete data files referenced by NONE of the newest
    ``keep_versions`` snapshots (lost-race orphans and files dropped by
    old overwrites). Returns the deleted relative paths. Time travel
    further back than ``keep_versions`` stops working — the standard
    retention trade."""
    versions = _versions(table_dir)
    if not versions:
        return []
    keep: set[str] = set()
    for v in versions[-keep_versions:]:
        keep |= set(_snapshot(table_dir, v)["files"])
    data_root = os.path.join(table_dir, "data")
    deleted = []
    for sub in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        subdir = os.path.join(data_root, sub)
        for f in sorted(os.listdir(subdir)):
            rel = os.path.join("data", sub, f)
            if f.endswith(".parquet") and rel not in keep:
                os.remove(os.path.join(subdir, f))
                deleted.append(rel)
    return deleted
