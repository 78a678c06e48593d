"""Streaming change-data-feed source: ``readStream`` over a LakeTable's
manifest log, built on PySpark 4's Python Data Source API.

``spark.dataSource.register(LakeCDFDataSource)`` then::

    spark.readStream.format("lake_cdf")
         .option("path", table_path)
         .option("startingVersion", 0)     # default: version at start
         .load()

(or ``.option("startingTimestamp", "2026-08-17T12:00:00")`` / epoch
seconds — resolved against the manifests' commit timestamps so every
commit stamped at or after the instant streams, Delta's
startingTimestamp contract; mutually exclusive with startingVersion.)

yields every change event (the raw feed — downstream applies LWW, or
uses :meth:`LakeTable.table_changes` for net semantics) with columns
``<payload…>, _change_op ('U'/'D'), _lsn, _commit_version``.

Design, and why it scales:

  * **The manifest log is read through LakeTable.** The driver side
    opens a metadata-only ``LakeTable(None, path, io=io)`` — its
    manifest methods never touch Spark, so they run inside the stream
    reader's Python worker — and gets the log's format, the torn-read
    retry on a manifest and the per-version walk from the one place
    that writes them.
  * **Offsets are table versions** — ``latestOffset`` is one manifest
    listing; the checkpoint stores ``{"version": N}`` so a restarted
    stream resumes exactly where it stopped (the lakehouse's own
    commit log is the replayable source, like Delta CDF / Iceberg
    incremental reads).
  * **A micro-batch's partitions are the delta FILES added in the
    version range** (``LakeTable.added_delta_files``, the walk
    ``table_changes`` uses: each commit's sidecar, O(new files) driver
    IO per version, with a manifest-diff fallback for versions without
    one): work is O(new changes), never O(table); compaction/vacuum/
    schema commits record empty sidecars and produce empty batches —
    even minor compaction, which physically writes new merged delta
    files, re-emits nothing.
  * **Executors read parquet with pyarrow and emit Arrow record
    batches** — the Python Data Source's fast path; no per-row Python.
    Old-schema files are conformed to the stream's start schema
    (missing columns → null, matching Iceberg-style evolution).

Driver-side metadata IO goes through the FileIO seam, so the source
works against either warehouse backend. The reference has no streaming
source at all (its MultiTableDBSource is a batch InputFormat,
MultiTableDBSource.java:61-66); this is the engine's CDC-*out*
counterpart to its streaming CDC-*in* pipeline.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..lakehouse.fileio import get_fileio
from ..lakehouse.table import LakeTable, discover_tables
from ..schemas import DELETED_COL, LSN_COL

CHANGE_OP_COL = "_change_op"
COMMIT_VERSION_COL = "_commit_version"


def _head_version(io, table_path: str) -> int:
    return LakeTable(None, table_path, io=io).versions()[-1]


def _parse_start_ts(raw: str) -> float:
    """``startingTimestamp`` value → epoch seconds: a float/int string,
    or an ISO-8601 date/datetime (local-naive, like Delta's option)."""
    try:
        return float(raw)
    except ValueError:
        from datetime import datetime

        return datetime.fromisoformat(raw).timestamp()


def _start_version_for_ts(io, table_path: str, ts: float) -> int:
    """Stream START offset for ``startingTimestamp``: the newest
    version committed strictly before ``ts`` — every commit stamped at
    or after ``ts`` then streams (Delta's startingTimestamp contract).
    Driver-side scan of the retained manifests' ``ts`` stamps, same
    O(retained versions) metadata walk as ``version_as_of``. If the
    earliest retained manifest is already >= ``ts``, the whole retained
    history streams (start = earliest - 1)."""
    lt = LakeTable(None, table_path, io=io)
    vs = lt.versions()
    if not vs:
        raise FileNotFoundError(f"no manifest under {table_path}")
    start = vs[0] - 1
    for v in vs:
        if float(lt.manifest(v).get("ts") or 0.0) < ts:
            start = v
        else:
            # stop at the first commit stamped >= ts. This is the
            # CONSERVATIVE direction even when concurrent writers'
            # clocks are skewed (non-monotonic stamps): only versions
            # <= start are excluded, and every one of those was checked
            # ts < target — a qualifying commit can never be skipped,
            # while later lower-stamped commits merely over-include
            # (streams replay in version order, so that is unavoidable
            # anyway). A full scan taking the NEWEST version with
            # ts < target would instead skip out-of-order commits
            # stamped >= target that sort before it.
            break
    return start


#: a delta file beyond this many rows is split into one stream
#: partition per row-group chunk (parallelism inside one giant file —
#: a skewed micro-batch must not serialize on a single reader task)
CDF_SPLIT_ROWS = 1_000_000


def _partitions_for(
    table_path: str,
    files: "list[tuple[str, int, int, int, int]]",
    table_name: "str | None" = None,
) -> "list[CDFPartition]":
    out = []
    for rel, _sv, cv, rows, rgs in files:
        full = os.path.join(table_path, rel)
        if rows > CDF_SPLIT_ROWS and rgs > 1:
            n_chunks = min(rgs, -(-rows // CDF_SPLIT_ROWS))
            step = rgs / n_chunks
            bounds = [round(i * step) for i in range(n_chunks)] + [rgs]
            for i in range(n_chunks):
                if bounds[i] < bounds[i + 1]:
                    out.append(
                        CDFPartition(
                            file_path=full,
                            commit_version=cv,
                            table_name=table_name,
                            rg_lo=bounds[i],
                            rg_hi=bounds[i + 1],
                        )
                    )
        else:
            out.append(
                CDFPartition(
                    file_path=full, commit_version=cv, table_name=table_name
                )
            )
    return out


TABLE_COL = "table_name"


@dataclass
class CDFPartition(InputPartition):
    """``read()`` conforms each file to the stream schema BY NAME
    (extra columns dropped, missing null-filled), so the partition
    carries no per-file schema — which also means a mid-stream schema
    evolution cannot break ``partitions()`` (the reader never needs a
    schema-version lookup that postdates stream start)."""

    file_path: str  # absolute
    commit_version: int
    table_name: "str | None" = None  # set in warehouse (multi-table) mode
    #: row-group slice [rg_lo, rg_hi) for oversized files split into
    #: several partitions; None = read the whole file
    rg_lo: "int | None" = None
    rg_hi: "int | None" = None


class LakeCDFStreamReader(DataSourceStreamReader):
    def __init__(self, out_schema: StructType, options: dict):
        self._path = options["path"]
        self._io = get_fileio(options.get("fileio"))
        self._out = out_schema
        start = options.get("startingversion")
        start_ts = options.get("startingtimestamp")
        if start is not None and start_ts is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive"
            )
        if start is not None:
            self._start = int(start)
        elif start_ts is not None:
            self._start = _start_version_for_ts(
                self._io, self._path, _parse_start_ts(start_ts)
            )
        else:
            self._start = _head_version(self._io, self._path)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": _head_version(self._io, self._path)}

    def partitions(self, start: dict, end: dict):
        return self._partitions_of(
            self._path, start["version"], end["version"]
        )

    def _partitions_of(
        self,
        table_path: str,
        v_from: int,
        v_to: int,
        table_name: "str | None" = None,
    ) -> "list[CDFPartition]":
        """Partitions over the delta files commits in ``(v_from, v_to]``
        added; rows/rgs are 0 for legacy entries that predate them."""
        added, _ = LakeTable(None, table_path, io=self._io).added_delta_files(
            v_from, v_to
        )
        files = [
            (
                e["path"],
                int(e["sv"]),
                v,
                int(e.get("rows") or 0),
                int(e.get("rgs") or 0),
            )
            for v, _, e in added
        ]
        return _partitions_for(table_path, files, table_name=table_name)

    def read(self, partition: CDFPartition):
        """Executor-side: one pyarrow parquet read, conformed to the
        stream schema, emitted as Arrow record batches (no per-row
        Python)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_out = to_arrow_schema(self._out)
        if partition.rg_lo is not None:
            t = pq.ParquetFile(partition.file_path).read_row_groups(
                list(range(partition.rg_lo, partition.rg_hi))
            )
        else:
            t = pq.read_table(partition.file_path)
        n = t.num_rows
        cols = {name: t.column(name) for name in t.column_names}
        deleted = cols.get(DELETED_COL)
        if deleted is None:
            op = pa.array(["U"] * n)
        else:
            op = pc.if_else(
                pc.fill_null(deleted.combine_chunks(), False),
                pa.scalar("D"),
                pa.scalar("U"),
            )
        arrays = []
        for field in arrow_out:
            if field.name == CHANGE_OP_COL:
                arrays.append(pc.cast(op, field.type))
            elif field.name == COMMIT_VERSION_COL:
                arrays.append(
                    pa.array([partition.commit_version] * n, type=field.type)
                )
            elif (
                field.name == TABLE_COL and partition.table_name is not None
            ):
                arrays.append(
                    pa.array([partition.table_name] * n, type=field.type)
                )
            elif field.name in cols:
                arrays.append(
                    pc.cast(cols[field.name].combine_chunks(), field.type)
                )
            else:  # written before this column existed — evolution fill
                arrays.append(pa.nulls(n, type=field.type))
        table = pa.Table.from_arrays(arrays, schema=arrow_out)
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint; nothing to ack


def _split_opt(options: dict, key: str) -> "set[str]":
    v = options.get(key)
    return {s.strip() for s in v.split(",") if s.strip()} if v else set()


class WarehouseCDFStreamReader(LakeCDFStreamReader):
    """Multi-table mode: one stream over EVERY table of a warehouse
    (allow/block-filtered), rows tagged with ``table_name`` — the
    reference's union-tagged multi-table source shape (S1/S2/S9) as a
    continuous change feed. Offsets are ``{"versions": {table: N}}``;
    tables appearing mid-stream start at version 0 (their whole delta
    history streams in), tables disappearing simply stop contributing.
    ``read`` is inherited — a partition carries its table name."""

    def __init__(self, out_schema: StructType, options: dict):
        self._wh = options["warehouse"]
        self._io = get_fileio(options.get("fileio"))
        self._out = out_schema
        self._allow = _split_opt(options, "tables")
        self._block = _split_opt(options, "blocktables")
        start = options.get("startingversion")
        start_ts = options.get("startingtimestamp")
        if start is not None and start_ts is not None:
            raise ValueError(
                "startingVersion and startingTimestamp are mutually "
                "exclusive"
            )
        self._start_version = int(start) if start is not None else None
        self._start_ts = (
            _parse_start_ts(start_ts) if start_ts is not None else None
        )

    def _tpath(self, t: str) -> str:
        return os.path.join(self._wh, t)

    def _versions_now(self) -> dict:
        return discover_tables(self._io, self._wh, self._allow, self._block)

    def initialOffset(self) -> dict:
        vs = self._versions_now()
        if self._start_version is not None:
            vs = {t: self._start_version for t in vs}
        elif self._start_ts is not None:
            vs = {
                t: _start_version_for_ts(
                    self._io, self._tpath(t), self._start_ts
                )
                for t in vs
            }
        return {"versions": vs}

    def latestOffset(self) -> dict:
        return {"versions": self._versions_now()}

    def partitions(self, start: dict, end: dict):
        out = []
        s = start["versions"]
        for t, v_to in end["versions"].items():
            # a table absent from `start` appeared mid-stream: stream its
            # entire history (version 0 = the empty created table)
            v_from = s.get(t, 0)
            if v_to <= v_from:
                continue
            out.extend(
                self._partitions_of(self._tpath(t), v_from, v_to, table_name=t)
            )
        return out


class LakeCDFDataSource(DataSource):
    """``format("lake_cdf")`` — see module docstring. Single-table mode
    with ``option("path", table_dir)``; multi-table (warehouse) mode
    with ``option("warehouse", wh_dir)`` plus optional ``tables`` /
    ``blockTables`` comma lists — rows then carry ``table_name`` and
    the stream schema is the evolution-merge of every selected table's
    schema (files null-fill columns they predate)."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def _user_schema_of(self, io, path: str) -> StructType:
        return LakeTable(None, path, io=io).schema()

    def schema(self) -> StructType:
        from ..schemas import merge_schemas

        def _check_reserved(table: str, u: StructType) -> None:
            # the stream appends these; a payload column with the same
            # name would produce duplicate fields and mis-bound columns
            for reserved in (CHANGE_OP_COL, LSN_COL, COMMIT_VERSION_COL):
                if reserved in u.fieldNames():
                    raise ValueError(
                        f"table {table!r} has a payload column named "
                        f"{reserved!r}, which the change feed reserves"
                    )

        io = get_fileio(self.options.get("fileio"))
        wh = self.options.get("warehouse")
        if wh is None:
            user = self._user_schema_of(io, self.options["path"])
            _check_reserved(self.options["path"], user)
            out = StructType(user.fields[:])
        else:
            tables = discover_tables(
                io,
                wh,
                _split_opt(self.options, "tables"),
                _split_opt(self.options, "blocktables"),
            )
            if not tables:
                raise ValueError(f"no lake tables under {wh}")
            merged: "StructType | None" = None
            for t in tables:
                u = self._user_schema_of(io, os.path.join(wh, t))
                if TABLE_COL in u.fieldNames():
                    raise ValueError(
                        f"table {t!r} has a payload column named "
                        f"{TABLE_COL!r}, which the multi-table feed "
                        "reserves for the source tag"
                    )
                _check_reserved(t, u)
                merged = u if merged is None else merge_schemas(merged, u)
            out = StructType().add(TABLE_COL, "string", False)
            for f in merged.fields:
                out = out.add(f)
        out = out.add(CHANGE_OP_COL, "string", False)
        out = out.add(LSN_COL, "long", True)
        out = out.add(COMMIT_VERSION_COL, "long", False)
        return out

    def streamReader(self, schema: StructType) -> LakeCDFStreamReader:
        opts = dict(self.options)
        if opts.get("warehouse") is not None:
            return WarehouseCDFStreamReader(schema, opts)
        return LakeCDFStreamReader(schema, opts)


def replicate_table(
    spark,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    app_id: str = "replica",
    available_now: bool = True,
    fileio=None,
):
    """Continuous table replication: stream the source table's change
    feed (``lake_cdf``) and MERGE each micro-batch into a destination
    LakeTable — the full CDC loop closed with existing pieces, each
    contributing its own guarantee:

      * the CDF source's offsets are source VERSIONS in the stream
        checkpoint → a restarted replica resumes where it stopped;
      * ``merge_into``'s per-(app_id, epoch=batch_id) ledger makes a
        replayed micro-batch a no-op → exactly-once end to end;
      * LWW by the ORIGINAL ``_lsn`` → the replica converges to the
        source's exact state regardless of batch boundaries.

    Returns the StreamingQuery (``available_now=True`` processes the
    backlog and stops — incremental refresh; ``False`` runs
    continuously on the ``CONTINUOUS_TRIGGER_INTERVAL`` trigger). The
    merge ledger is keyed on (``app_id``, max SOURCE
    version in the batch), so exactly-once survives a lost or recreated
    stream checkpoint; replicating multiple sources into one
    destination requires distinct ``app_id``s."""
    from pyspark.sql import functions as F

    spark.dataSource.register(LakeCDFDataSource)
    io = get_fileio(fileio)
    from ..lakehouse.fileio import _BACKENDS

    if getattr(io, "name", None) not in _BACKENDS:
        # stream-reader options travel as STRINGS through the Spark
        # checkpoint — only named backends can round-trip; a custom
        # FileIO instance would crash inside the reader at first batch
        raise ValueError(
            "replicate_table requires a named FileIO backend "
            f"({sorted(_BACKENDS)}); got {io!r}"
        )
    src = LakeTable(spark, src_path, io=io)
    key, n_buckets, schema = src.key, src.n_buckets, src.schema()

    def apply(batch_df, batch_id: int):
        # exactly-once epoch = the batch's max SOURCE version, not the
        # stream's batch id: batch ids are checkpoint-lineage-local, so
        # a lost/recreated checkpoint against an existing replica would
        # restart them at 0 and the ledger would silently skip every
        # batch forever. Source versions are monotone and identical
        # under any checkpoint; redelivered versions skip via the
        # ledger, partially-redelivered batches re-apply idempotently
        # (same lsn rows → same LWW state).
        batch_df = batch_df.persist()  # read once: version agg + merge
        try:
            top = batch_df.agg(
                F.max(COMMIT_VERSION_COL).alias("v")
            ).first()["v"]
            if top is None:
                return  # empty micro-batch
            dst = LakeTable.get_or_create(
                spark, dst_path, schema, key=key, n_buckets=n_buckets, io=io
            )
            dst.merge_into(
                batch_df.drop(COMMIT_VERSION_COL),
                app_id=app_id,
                epoch=int(top),
                lsn_col=LSN_COL,
                op_col=CHANGE_OP_COL,
            )
        finally:
            batch_df.unpersist()

    reader = (
        spark.readStream.format("lake_cdf")
        .option("path", src_path)
        .option("startingVersion", 0)
    )
    if io.name != "local":
        # stream-reader options are strings: named backends round-trip;
        # a custom FileIO instance must also be registered by name
        reader = reader.option("fileio", io.name)
    w = (
        reader.load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        from .cdc_pipeline import CONTINUOUS_TRIGGER_INTERVAL

        w = w.trigger(processingTime=CONTINUOUS_TRIGGER_INTERVAL)
    return w.start()
