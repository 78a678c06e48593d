"""Cross-table consistent warehouse snapshots.

Per-table commits are atomic and exactly-once, but a multi-table CDC
batch commits its tables one by one — a reader joining ``t0`` (already
committed at epoch N) with ``t1`` (still at N−1) sees a cross-table
state no feed prefix ever produced. The warehouse snapshot log closes
that gap: after a batch's tables have ALL committed, the writer
publishes ``_snapshots/snap-<seq>.json`` pinning each table to the
version that batch produced (untouched tables carry forward their
previously pinned versions). Readers that resolve tables through a
:class:`WarehouseSnapshot` get a consistent cross-table view:

  * a crash mid-batch leaves no new snapshot — readers stay on the
    last COMPLETE batch until the replayed batch finishes;
  * snapshots are immutable JSON published with the same CAS as table
    manifests (concurrent publishers retry on the next sequence
    number, merging maps — last publisher wins per table);
  * O(metadata): one tiny JSON per batch, pruned to ``keep_last``.

Pinned versions are only readable while each table's own manifest
retention (:meth:`LakeTable.expire_snapshots`) keeps them — expire
with a retention matched to the oldest snapshot you still serve.

Reference parity note: the reference's multi-table sink commits each
table's output independently within one pipeline run
(MultiTableDBSource.java:61-66 feeding per-table OutputFormats); its
consumers read mid-run states. This is the missing cross-table read
contract, made cheap by the manifest log.
"""

from __future__ import annotations

import json
import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .fileio import FileIO, get_fileio
from .table import LakeTable

SNAP_DIR = "_snapshots"


def _snap_files(io: FileIO, warehouse: str) -> "list[str]":
    d = os.path.join(warehouse, SNAP_DIR)
    if not io.isdir(d):
        return []
    return sorted(
        n
        for n in io.listdir(d)
        if n.startswith("snap-") and n.endswith(".json")
    )


def _seq_of(name: str) -> int:
    return int(name[len("snap-") : -len(".json")])


def latest_snapshot(io: FileIO, warehouse: str) -> "dict | None":
    """The newest snapshot document, or None if none published yet."""
    names = _snap_files(io, warehouse)
    if not names:
        return None
    return json.loads(
        io.read_text(os.path.join(warehouse, SNAP_DIR, names[-1]))
    )


def publish_snapshot(
    io: FileIO,
    warehouse: str,
    table_versions: "dict[str, int]",
    app_id: "str | None" = None,
    epoch: "int | None" = None,
    keep_last: int = 128,
) -> dict:
    """Publish the next warehouse snapshot: ``table_versions`` override
    (or extend) the previous snapshot's pins; other tables carry
    forward. CAS on the sequence number — a concurrent publisher makes
    us reload and retry on the next seq, so every snapshot file is an
    immutable, complete pin map. Old snapshots beyond ``keep_last``
    are pruned (best-effort)."""
    io = get_fileio(io)
    d = os.path.join(warehouse, SNAP_DIR)
    io.makedirs(d)
    for _ in range(20):
        names = _snap_files(io, warehouse)
        prev = (
            json.loads(io.read_text(os.path.join(d, names[-1])))
            if names
            else None
        )
        seq = (_seq_of(names[-1]) + 1) if names else 1
        tables = dict((prev or {}).get("tables", {}))
        tables.update({t: int(v) for t, v in table_versions.items()})
        doc = {
            "seq": seq,
            "tables": tables,
            "app_id": app_id,
            "epoch": epoch,
            "ts": time.time(),
        }
        try:
            io.publish_atomic(
                os.path.join(d, f"snap-{seq:08d}.json"), json.dumps(doc)
            )
        except FileExistsError:
            continue  # lost the seq race — merge onto the winner
        for stale in names[: max(0, len(names) + 1 - keep_last)]:
            try:
                io.remove(os.path.join(d, stale))
            except FileNotFoundError:
                pass
        return doc
    raise RuntimeError(
        f"gave up publishing warehouse snapshot after 20 races at {d}"
    )


def publish_batch_snapshot(
    io: FileIO,
    warehouse: str,
    table_versions: "dict[str, int]",
    app_id: "str | None",
    epoch: "int | None",
    lineage=None,
) -> None:
    """Publish the snapshot of a batch whose tables have all committed.

    The batch is already durable, so a failed publish must not fail it:
    readers stay on the previous snapshot, and the failure is recorded as
    a ``degraded`` lineage record (``site: snapshot_publish``) in
    ``lineage`` or the warehouse's own lineage log."""
    if not table_versions:
        return
    try:
        publish_snapshot(io, warehouse, table_versions, app_id=app_id, epoch=epoch)
    except Exception as e:
        from ..streaming.lineage import LineageLog

        logging.getLogger(__name__).warning(
            "warehouse snapshot publish failed for epoch %s", epoch, exc_info=True
        )
        (lineage or LineageLog(warehouse)).emit(
            {
                "kind": "degraded",
                "site": "snapshot_publish",
                "app_id": app_id,
                "epoch": epoch,
                "tables": sorted(table_versions),
                "error": f"{type(e).__name__}: {e}",
            }
        )


class WarehouseSnapshot:
    """A pinned, cross-table-consistent view of a warehouse: every
    ``read`` resolves its table to the version recorded by one
    COMPLETE multi-table batch."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        doc: dict,
        io: FileIO | None = None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.doc = doc
        self.io = get_fileio(io)

    @classmethod
    def latest(
        cls, spark: SparkSession, warehouse: str, io: FileIO | None = None
    ) -> "WarehouseSnapshot | None":
        io = get_fileio(io)
        doc = latest_snapshot(io, warehouse)
        return None if doc is None else cls(spark, warehouse, doc, io=io)

    @property
    def seq(self) -> int:
        return self.doc["seq"]

    @property
    def tables(self) -> "dict[str, int]":
        return dict(self.doc["tables"])

    def read(self, table: str, **kw) -> DataFrame:
        """``LakeTable.read`` of ``table`` pinned at this snapshot's
        version (kwargs pass through, e.g. ``where=`` pruning)."""
        v = self.doc["tables"].get(table)
        if v is None:
            raise KeyError(
                f"table {table!r} is not pinned by snapshot "
                f"{self.seq} (tables: {sorted(self.doc['tables'])})"
            )
        lt = LakeTable(self.spark, os.path.join(self.warehouse, table), io=self.io)
        return lt.read(version=v, **kw)
