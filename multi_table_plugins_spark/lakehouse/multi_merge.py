"""Multi-table fast-path merge: apply one micro-batch to MANY tables with
ONE Spark job.

The per-table ``merge_into`` loop costs O(n_tables) job launches per
micro-batch — fine for 3 tables, fatal for 300 (and visibly
overhead-bound even at 8 tables on local[32]). This path restores the
reference's "read/write all tables in one job" shape
(MultiTableDBSource.java:61-66, one MapReduce job over N tables) on the
write side:

  1. tag every (already validated) event with its table and its key's
     bucket — versions are appended, LWW resolves at read/compaction;
  2. one ``partitionBy(table, bucket)`` parquet write to a staging dir
     (one shuffle co-locates each (table,bucket) into one file);
  3. driver: place each table's files into its table dir through the
     FileIO seam (hard links on local fs, copy/conditional-PUT on the
     generic/object-store backend — see fileio.py), read row counts
     from parquet footers (no job), and make one atomic ledger-checked
     manifest commit per table (``LakeTable.append_staged``);
  4. one call folds every due table (``table.compact_due``), decided on
     the manifests step 3's commits published (no listing of the log):
     the tables whose delta stacks reached the compaction threshold are
     read, LWW-resolved per (table, bucket, key) and written as one
     staged ``(table, bucket)`` run, then placed and committed per table
     the same way (``table.fold_tables``). A fold whose input fits in
     ``table.DRIVER_FOLD_MAX_BYTES`` runs on the driver with Arrow and
     no Spark job — AQE would run it as one or a few reduce tasks, so a
     job would add mostly its fixed cost; a larger one is one more Spark
     job with one ``partitionBy(table, bucket)`` write.

Row/delete counts, the watermark and the max LSN ride the write job via
``Observation`` — zero extra passes.

Crash safety: a crash after some tables committed and others not is
healed on replay — committed tables' ledgers skip, uncommitted apply.
A crash between the commits and the fold leaves buckets over threshold,
and the table's next commit folds them. A table's placed run that
does not commit — the commit raises (a lost race, a refused schema)
or the ledger skips it — is deleted by its one owner,
``LakeTable._commit_run``; the staging directory is removed in any
case. Only a process crash leaves files behind: readers ignore them
(only manifest-listed files are visible) and
``expire_snapshots(remove_orphans=True)`` reclaims them.
"""

from __future__ import annotations

import os
import re
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

#: table names become warehouse directory names — anything else is an
#: injection risk (a change event with table_name='../x' must never
#: escape the warehouse root). Leading '_' and '.' are reserved for
#: engine directories (_errors/_lineage/_staging/_manifests) and hidden
#: files, so they are rejected too.
SAFE_TABLE_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,127}$")


def is_safe_table_name(name: str) -> bool:
    return bool(SAFE_TABLE_RE.match(name))

from ..schemas import DELETED_COL, LSN_COL, payload_schema_of_changes
from .fileio import FileIO, get_fileio
from .table import (
    _BUCKET_COL,
    _TABLE_COL,
    COMMIT_THREADS,
    DELTA_WRITE_OPTS,
    LakeTable,
    _key_cols,
    _violations,
    compact_due,
)


def merge_many(
    spark: SparkSession,
    batch_df: DataFrame,
    warehouse: str,
    app_id: str,
    epoch: int | None,
    n_buckets: int = 16,
    compact_threshold: int = 16,
    minor_compact_threshold: int | None = None,
    key_col: "str | list[str]" = "doc_id",
    io: FileIO | None = None,
    on_violation: str = "fail",
    branch: "str | None" = None,
) -> dict[str, dict]:
    """Apply a change-feed batch to every table it mentions; returns
    {table: merge metrics} plus a ``"_batch"`` entry of batch-wide
    counts. One Spark job writes every table's rows; a table on the slow
    lane (changed bucket layout or CHECK constraints) adds its own.

    Every change version is appended as an LSM-style sorted-run delta —
    read/compaction resolves LWW. The heavy token arrays are shuffled
    exactly once (for write co-location) and never sorted or aggregated.

    ``key_col`` may be a list for compound primary keys (reference
    parity: DBTableInfo.java:28-50 carries ``primaryKey: List<String>``);
    bucketing and the per-table LWW merge then key on the column tuple
    in the given order. A table created with a different key (or key
    order) refuses the batch.

    Table names are checked here and only here: an unsafe name (see
    :func:`is_safe_table_name`) is listed in ``_batch.unsafe_tables``
    and never written.

    If any table fails to commit, the others still commit and a
    ``RuntimeError`` is raised carrying ``partial_results`` (the
    committed tables' metrics) and ``failures`` ({table: exception}).

    No warehouse snapshot is published here — the caller publishes one
    per complete batch (streaming/cdc_pipeline.py).

    ``branch`` — stage the whole batch on that named branch of EVERY
    touched table instead of committing to main (warehouse-level
    write-audit-publish, streaming/wap.py): same one-job write, same
    per-table ledger semantics, but commits land on each table's branch
    manifest chain, and nothing is visible to main readers until the
    branches are fast-forwarded."""
    io = get_fileio(io)
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    payload_schema = payload_schema_of_changes(batch_df.schema)
    internal_fields = list(payload_schema.fields)
    internal_names = [f.name for f in internal_fields]

    norm = (
        batch_df.withColumn(LSN_COL, F.col("lsn").cast("long"))
        .withColumn(DELETED_COL, F.col("op") == F.lit("D"))
        .withColumn(_TABLE_COL, F.col("table_name"))
    )

    obs = Observation()
    norm = norm.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col(DELETED_COL).cast("int")).alias("deletes"),
        F.max("ts").alias("watermark") if "ts" in batch_df.columns else F.lit(None).alias("watermark"),
        F.max("lsn").alias("max_lsn"),
    )

    keep = [_TABLE_COL, *key_cols] + [
        c for c in internal_names if c not in key_cols
    ] + [LSN_COL, DELETED_COL]
    # same murmur3-over-key-tuple expression as LakeTable._bucket_expr —
    # the write-side bucket ids must match the table layout exactly
    bucketed = norm.select(*keep).withColumn(
        _BUCKET_COL,
        F.pmod(F.hash(*[F.col(k) for k in key_cols]), F.lit(n_buckets)),
    )

    staging_rel = f"_staging/e{epoch if epoch is not None else 'x'}-{uuid.uuid4().hex[:8]}"
    staging = os.path.join(warehouse, staging_rel)
    # implicit partition count: AQE size-coalesces the write side
    # (measured 40 tasks for a 1.6 GB batch at 32 cores). An explicit
    # cores-multiple count (4x32 even waves) was A/B-tested against this
    # in round 6 and showed no robust win under the bench's best-of
    # methodology — the wave-quantization loss and the per-task overhead
    # of 4x more tasks cancel out; keeping AQE is the scale-adaptive
    # choice (partitions track batch bytes, not a local constant).
    (
        bucketed.repartition(F.col(_TABLE_COL), F.col(_BUCKET_COL))
        .write.partitionBy(_TABLE_COL, _BUCKET_COL)
        .options(**DELTA_WRITE_OPTS)
        .mode("error")
        .parquet(staging)
    )
    got = obs.get

    results: dict[str, dict] = {}
    handles: dict[str, LakeTable] = {}
    unsafe: list[str] = []

    def _commit_table_slow(lt: LakeTable, table: str, tdir: str) -> None:
        """Slow lane for tables the staged files can't serve directly:
        a bucket layout differing from the batch's (post-``rebucket``)
        and/or registered CHECK constraints. Re-reads ONLY this table's
        staged files (column-pruned parquet, page-cache hot), enforces
        constraints on the events, re-buckets with the TABLE's layout,
        and commits through the table's own write path — O(this
        table's share of the batch), the hot path untouched for every
        other table."""
        sdir = os.path.join(staging, tdir)
        files = [
            os.path.join(sdir, b, f)
            for b in io.listdir(sdir)
            if b.startswith(f"{_BUCKET_COL}=")
            for f in io.listdir(os.path.join(sdir, b))
            if f.endswith(".parquet")
        ]
        file_schema = StructType(list(payload_schema.fields))
        file_schema = file_schema.add(LSN_COL, "long").add(
            DELETED_COL, "boolean"
        )
        df, viol_obs = lt._enforce_constraints(
            spark.read.schema(file_schema).parquet(*files), on_violation
        )
        m = lt.recompute_on_conflict(
            lambda: lt.append_rows(df, payload_schema, app_id, epoch)
        )
        if not m.get("skipped"):
            n_viol = _violations(viol_obs)
            if n_viol:
                m["constraint_violations_dropped"] = n_viol
        results[table] = m

    def _commit_table(tdir: str) -> None:
        table = tdir.split("=", 1)[1]
        if not is_safe_table_name(table):
            unsafe.append(table)
            return
        tpath = os.path.join(warehouse, table)
        lt = LakeTable.get_or_create(
            spark,
            tpath,
            payload_schema,
            key=key_col,
            n_buckets=n_buckets,
            compact_threshold=compact_threshold,
            minor_compact_threshold=minor_compact_threshold,
            io=io,
            branch=branch,
        )
        handles[table] = lt
        # one listing of the log for the three pre-checks below; the
        # commit's own ledger check re-reads the newest version
        m = lt.manifest()
        have = _key_cols(m)
        if have != key_cols:
            # same corruption class as a bucket-count mismatch: the
            # bucket hash is order-sensitive over the key tuple, so a
            # reordered/different key would land every file in the
            # wrong bucket while committing cleanly
            raise ValueError(
                f"table {table!r} has key {have}, batch was "
                f"bucketed on {key_cols}; pass the table's key order"
            )
        if m["n_buckets"] != n_buckets or m.get("constraints"):
            # the staged files were hashed with the BATCH's bucket count
            # and never constraint-checked — this table needs the slow
            # lane (re-bucket to the table's layout after a rebucket();
            # enforce CHECK constraints). Every other table stays on the
            # zero-copy fast lane below.
            _commit_table_slow(lt, table, tdir)
            return
        results[table] = lt.append_staged(
            os.path.join(staging, tdir), key_cols, payload_schema, app_id,
            epoch, n_buckets,
        )

    tdirs = sorted(
        d for d in io.listdir(staging) if d.startswith(f"{_TABLE_COL}=")
    )
    # per-table registration is driver-side IO (link + footer + JSON) —
    # run it threaded so 100 tables don't serialize the micro-batch.
    # Exceptions are collected per table (not propagated out of ex.map)
    # and staging removal runs in finally: a failing table (e.g. the
    # key-order refusal) must neither abort its siblings' commits nor
    # leak the staging directory.
    commit_failures: dict[str, Exception] = {}

    def _commit_guarded(tdir: str) -> None:
        # Exception only: a KeyboardInterrupt/SystemExit during a commit
        # must propagate out of ex.map and abort the batch; the finally
        # below still reclaims staging on the way out.
        try:
            _commit_table(tdir)
        except Exception as e:
            commit_failures[tdir.split("=", 1)[1]] = e

    try:
        if len(tdirs) > 1:
            with ThreadPoolExecutor(max_workers=COMMIT_THREADS) as ex:
                list(ex.map(_commit_guarded, tdirs))
        else:
            for d in tdirs:
                _commit_guarded(d)
    finally:
        io.remove_tree(staging)
        # remove the shared staging parent when no other batch is mid-flight
        io.remove_dir_if_empty(os.path.dirname(staging))

    # every table that the commits made due folds in one call, decided
    # on the manifests the commits published; a table whose fold fails
    # is a failed table, as a failed commit is
    folded = sorted(t for t, m in results.items() if not m.get("skipped"))
    heads = [handles[t].published(results[t]["version"]) for t in folded]
    for t, r in zip(folded, compact_due([handles[t] for t in folded], heads)):
        if isinstance(r, Exception):
            commit_failures[t] = r
            del results[t]
        else:
            results[t].update(r)

    if commit_failures:
        # committed tables' ledgers make a retry a no-op for them; the
        # caller re-applies only the failed tables
        first_t, first_e = sorted(commit_failures.items())[0]
        err = RuntimeError(
            f"commit failed for table(s) {sorted(commit_failures)}: "
            f"{first_t}: {first_e}"
        )
        err.partial_results = dict(results)
        err.failures = dict(commit_failures)
        raise err from first_e
    results["_batch"] = {
        "rows_in": got.get("rows_in", 0),
        "deletes": got.get("deletes", 0) or 0,
        "watermark": got.get("watermark"),
        "max_lsn": got.get("max_lsn"),
        "unsafe_tables": sorted(unsafe),
    }
    return results
