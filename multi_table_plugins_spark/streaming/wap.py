"""Warehouse-level write-audit-publish for multi-table CDC batches.

A multi-table batch commits its tables one by one; the warehouse
snapshot log (lakehouse/snapshots.py) already gives READERS a
cross-table-consistent view. This module closes the WRITER side: a
suspect batch (new upstream producer, schema migration, bulk backfill)
is STAGED on a same-named branch of every table it touches — one
``merge_many`` Spark job, same ledger semantics, zero extra data copies
— audited there (read the branch handles, run constraints / row-count /
dedup checks), and only then PUBLISHED table by table with a warehouse
snapshot pinned at the end. Main readers and snapshot readers never see
any prefix of a rejected batch.

Crash/replay matrix (every arrow is a rerun of the same call):

  * crash mid-stage      → ``stage_cdc_batch`` again: branches already
    exist (reused), committed tables' branch ledgers skip, the rest
    apply — idempotent per (app_id, epoch, branch).
  * crash mid-publish    → ``publish_staged_batch`` again: tables whose
    branch is gone were already published — their CURRENT main head is
    still pinned in the resumed snapshot via the warehouse-level staged
    table marker (``_staging/branch-<branch>.json``, written at stage
    time, deleted only after the snapshot lands) — a table with a
    half-fast-forwarded branch resumes (byte-identical manifest
    re-check in ``fast_forward``), the snapshot publishes last and
    covers the WHOLE batch, never a mix of pre- and post-batch pins.
  * table dropped before a resumed publish → the publish pins the
    remaining tables, records a ``degraded`` lineage record for the
    missing one, and consumes the marker.
  * audit rejects        → ``discard_staged_batch``: branch chains
    removed; staged files become orphans reclaimed by
    ``expire_snapshots(remove_orphans=True)`` after the grace window.
  * main advanced meanwhile → ``publish_staged_batch`` raises
    ``CommitConflict`` (prefix check, per table); discard and re-stage
    — the ledger makes the re-staged epoch exactly-once.

Scale shape: staging adds NO Spark work over a direct apply (the same
one-job ``merge_many`` write; the fork is one manifest copy per table)
and publish is O(staged commits) driver metadata IO — no data is read
or moved at publish time.

Reference parity: the reference pipeline has no staging facility — a
bad batch lands in the sink and is cleaned up by hand
(MultiTableDBSource.java:135-154 commits per-table outputs directly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..lakehouse.fileio import FileIO, get_fileio
from ..lakehouse.snapshots import publish_snapshot
from ..lakehouse.table import LakeTable, discover_tables
from .cdc_pipeline import apply_cdc_batch
from .lineage import LineageLog


def default_branch(app_id: str, epoch: int) -> str:
    """The conventional staging-branch name for a batch."""
    return f"wap-{app_id}-{epoch}"


def _marker_path(warehouse: str, branch: str) -> str:
    """Warehouse-level record of WHICH tables a staged batch touched.

    ``publish_staged_batch`` discovers tables by looking for the branch
    — but a successful fast-forward DELETES the branch, so a publish
    resumed after a crash would only see the not-yet-published tables
    and pin a snapshot that mixes post-batch heads with PRE-batch pins
    for the tables published before the crash (exactly the torn
    cross-table view WAP exists to prevent); a crash after the last
    fast-forward would publish no snapshot at all. The marker makes the
    staged table set durable until the snapshot lands."""
    return os.path.join(warehouse, "_staging", f"branch-{branch}.json")


def _read_marker(io: FileIO, warehouse: str, branch: str) -> "list[str]":
    import json

    try:
        doc = json.loads(io.read_text(_marker_path(warehouse, branch)))
        return list(doc.get("tables") or [])
    except (FileNotFoundError, ValueError):
        return []


def _write_marker(
    io: FileIO, warehouse: str, branch: str, tables: "list[str]"
) -> None:
    """Publish the marker whole: ``publish_atomic`` writes the body under
    a temp name and links it into place, so a crash mid-write leaves no
    marker rather than torn JSON that would read as "no tables". A union
    update removes the old marker first; a crash between the two leaves
    none, and the stage that crashed is rerun before any publish, which
    writes it again from the batch's full table set."""
    import json

    p = _marker_path(warehouse, branch)
    io.makedirs(os.path.dirname(p))
    if io.exists(p):
        io.remove(p)
    io.publish_atomic(p, json.dumps({"branch": branch, "tables": sorted(tables)}))


def stage_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    warehouse: str,
    epoch: int,
    app_id: str = "cdc",
    branch: "str | None" = None,
    **apply_kw,
) -> dict:
    """Stage one multi-table CDC batch on branch ``branch`` (default
    ``wap-<app_id>-<epoch>``) of every table it touches. Identical
    signature/semantics to :func:`apply_cdc_batch` otherwise; returns
    its result dict with ``"branch"`` added. Nothing is visible to
    main until :func:`publish_staged_batch`."""
    branch = branch or default_branch(app_id, epoch)
    out = apply_cdc_batch(
        spark, batch_df, warehouse, epoch, app_id=app_id,
        branch=branch, **apply_kw,
    )
    out["branch"] = branch
    # durable staged-table set (see _marker_path): union with any
    # earlier marker so a crash-resumed stage keeps the full set
    io = get_fileio(apply_kw.get("io"))
    marked = set(_read_marker(io, warehouse, branch))
    tables = marked | {t for t in out.get("tables", {}) if not t.startswith("_")}
    if tables != marked:
        _write_marker(io, warehouse, branch, sorted(tables))
    return out


def staged_tables(
    warehouse: str, branch: str, io: "FileIO | None" = None
) -> "dict[str, dict]":
    """{table: branch info} for every table that has ``branch``."""
    io = get_fileio(io)
    out: dict[str, dict] = {}
    for t in discover_tables(io, warehouse, set(), set()):
        lt = LakeTable(None, os.path.join(warehouse, t), io=io)
        info = lt.branches().get(branch)
        if info is not None:
            out[t] = info
    return out


def publish_staged_batch(
    spark: SparkSession,
    warehouse: str,
    branch: str,
    app_id: "str | None" = None,
    epoch: "int | None" = None,
    snapshot: bool = True,
    io: "FileIO | None" = None,
) -> dict:
    """Publish a staged batch: fast-forward ``branch`` on every table
    that has it, then (``snapshot=True``) pin the published head
    versions in one warehouse snapshot so snapshot readers flip to the
    whole batch at once. Raises ``CommitConflict`` (before any
    snapshot) if any table's main advanced independently — discard and
    re-stage. Idempotently resumable: rerunning after a crash publishes
    only what remains; a marker table whose directory has vanished is
    left out of the snapshot with a ``degraded`` lineage record
    (``site: wap_publish``). O(staged commits) metadata IO, no data IO."""
    io = get_fileio(io)
    still_staged = staged_tables(warehouse, branch, io=io)
    # the full batch = marker set (durable across a crashed publish) ∪
    # tables still carrying the branch (pre-marker warehouses)
    batch_tables = sorted(set(_read_marker(io, warehouse, branch)) | set(still_staged))
    published: dict[str, dict] = {}
    versions: dict[str, int] = {}
    for t in batch_tables:
        lt = LakeTable(spark, os.path.join(warehouse, t), io=io)
        if t in still_staged:
            res = lt.fast_forward(branch)
            published[t] = res
            versions[t] = res["head_version"]
        else:
            # already fast-forwarded by a crashed earlier publish (the
            # successful fast-forward deleted the branch): pin its
            # CURRENT main head so the resumed snapshot still flips the
            # whole batch atomically instead of carrying a pre-batch pin
            try:
                versions[t] = lt.manifest()["version"]
            except FileNotFoundError as e:
                # the table itself is gone since staging: pin the rest
                # rather than fail every retry on a table that cannot return
                LineageLog(warehouse).emit(
                    {
                        "kind": "degraded",
                        "site": "wap_publish",
                        "branch": branch,
                        "table": t,
                        "error": f"{type(e).__name__}: {e}",
                    }
                )
    doc = None
    if snapshot and versions:
        doc = publish_snapshot(
            io, warehouse, versions, app_id=app_id, epoch=epoch
        )
    # marker outlives the branches and dies only after the snapshot is
    # durable — a crash anywhere above resumes to the same full pin set
    marker = _marker_path(warehouse, branch)
    if io.exists(marker):
        io.remove(marker)
    return {
        "branch": branch,
        "tables": published,
        "snapshot_seq": doc["seq"] if doc else None,
    }


def discard_staged_batch(
    warehouse: str, branch: str, io: "FileIO | None" = None
) -> dict:
    """Reject a staged batch: delete ``branch`` on every table that has
    it. Staged data files become orphans — reclaimed by
    ``expire_snapshots(remove_orphans=True)`` after the grace window."""
    io = get_fileio(io)
    dropped = []
    for t in sorted(staged_tables(warehouse, branch, io=io)):
        LakeTable(None, os.path.join(warehouse, t), io=io).delete_branch(
            branch
        )
        dropped.append(t)
    marker = _marker_path(warehouse, branch)
    if io.exists(marker):
        io.remove(marker)
    return {"branch": branch, "dropped": dropped}
