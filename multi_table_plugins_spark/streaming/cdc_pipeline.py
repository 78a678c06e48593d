"""The CDC ingest pipeline: change-feed tail → validate → route by table →
key-partitioned LWW MERGE into lakehouse tables → lineage.

Two drivers over the same batch-apply core:

  * :func:`run_cdc_stream` — Structured Streaming file source tailing the
    binlog directory (``maxFilesPerTrigger`` batch sizing — the streaming
    analog of the reference's JDBC fetch-size knob,
    ConnectionWithFetchSize.java:40-47), ``foreachBatch`` apply,
    checkpointed offsets. Kill it and restart with the same checkpoint +
    app_id: offsets resume, and any batch that committed to a table but
    not to the checkpoint is skipped by the table's epoch ledger —
    exactly-once end to end.
  * :func:`replay_feed_batches` — a batch loop over file groups in LSN
    order that reads each group with its *own* schema, so mid-stream
    schema evolution (added column, widened type) exercises the lakehouse
    schema-merge path honestly. (Structured Streaming pins one source
    schema for the life of a query, so the streaming driver takes the
    union schema; evolution is still applied per-batch by the table layer.)

One writer: every batch goes through ``lakehouse.multi_merge.merge_many``,
which applies all of its tables in one Spark job and commits them from a
pool of threads (the reference's analog was one MapReduce job over N
tables, MultiTableDBSource.java:61-66).

Error channel: three modes per MultiTableConf.java:48-50 — ``fail`` aborts
the batch, ``skip`` drops the failing table's records, ``error-port``
emits one ERROR_SCHEMA row per failed table (plus row-level validation
errors) to ``<warehouse>/_errors``. Under ``skip`` and ``error-port`` a
failed one-job apply falls back to one ``merge_many`` call per table that
did not commit, so only the failing tables lose the batch.
"""

from __future__ import annotations

import os
import traceback
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .. import errors as errmod
from ..catalog import lake_fqn
from ..errors import ERROR_PORT, FAIL, MODES, SKIP, TableFailure, split_valid_invalid
from ..lakehouse import LakeTable, multi_merge
from ..lakehouse.fileio import get_fileio
from ..lakehouse.snapshots import publish_batch_snapshot
from ..schemas import CHANGE_FEED_SCHEMA, payload_schema_of_changes
from .lineage import LineageLog


#: suffix of the per-table SCD2 version-log tables written by
#: ``apply_cdc_batch(history_tables=True)``
HISTORY_SUFFIX = "__history"

#: processing-time trigger of every continuous (not available-now) stream
#: this package starts. Spark's default trigger re-lists the source every
#: 10 ms while no data waits (a new file index per poll, ~0.4 core on an
#: idle stream; one LIST request per poll on an object store); 250 ms cuts
#: that ~7x and adds at most 250 ms (~125 ms mean) of pickup delay. A batch
#: that runs longer than the interval is followed at once, so a busy
#: stream keeps its throughput.
CONTINUOUS_TRIGGER_INTERVAL = "250 milliseconds"


def _jvm_compile_ms(spark: SparkSession) -> int:
    """Milliseconds the driver JVM has spent JIT-compiling so far, over
    all of its compiler threads (local-mode executors share this JVM)."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    return int(mgmt.ManagementFactory.getCompilationMXBean().getTotalCompilationTime())


def _errors_path(warehouse: str) -> str:
    return os.path.join(warehouse, "_errors")


def read_history(
    spark: SparkSession,
    warehouse: str,
    table: str,
    key_cols: "tuple[str, ...] | list[str]" = ("doc_id",),
) -> DataFrame:
    """SCD2 validity intervals over a ``<table>__history`` version log
    captured by ``apply_cdc_batch(history_tables=True)``: one row per
    version with ``valid_from`` / ``valid_to`` / ``version_num`` /
    ``is_current`` (see operators/scd2.py), ordered by the change
    timestamp with the LSN as total-order tiebreak. Delete events appear
    as versions with ``change_op = 'D'`` — "what did this row look like
    at time T, and when was it deleted?" is one filter away
    (``valid_from <= T`` and ``valid_to`` null or ``> T``)."""
    from ..operators.scd2 import scd2_history

    lt = LakeTable(spark, os.path.join(warehouse, table + HISTORY_SUFFIX))
    df = lt.read()
    keys = list(key_cols)
    order = (["event_ts"] if "event_ts" in df.columns else []) + ["lsn_key"]
    payload = [c for c in df.columns if c not in keys and c not in order]
    return scd2_history(df, keys, order, payload)


def write_errors(
    df: DataFrame,
    warehouse: str,
    app_id: str | None = None,
    epoch: int | None = None,
    kind: str = "misc",
) -> None:
    """Write error rows to the side channel.

    With (app_id, epoch) the write goes to an epoch-keyed subdirectory in
    ``overwrite`` mode, so a crash-replayed epoch REWRITES its
    deterministic error rows instead of appending duplicates — the error
    channel gets the same exactly-once semantics as the data path (whose
    ledger skips the data commit on replay but used to re-append errors).
    Without an epoch (ad-hoc callers) it appends to the channel root.
    """
    if epoch is None:
        df.write.mode("append").parquet(_errors_path(warehouse))
        return
    sub = os.path.join(
        _errors_path(warehouse), f"{app_id or 'cdc'}-e{epoch:08d}-{kind}"
    )
    df.write.mode("overwrite").parquet(sub)


def read_errors(spark: SparkSession, warehouse: str) -> DataFrame:
    p = _errors_path(warehouse)
    if not os.path.isdir(p):
        return spark.createDataFrame([], errmod.ERROR_SCHEMA)
    return (
        spark.read.schema(errmod.ERROR_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(p)
    )


def apply_cdc_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    warehouse: str,
    epoch: int,
    app_id: str = "cdc",
    error_mode: str = ERROR_PORT,
    allow_tables: tuple[str, ...] = (),
    block_tables: tuple[str, ...] = (),
    n_buckets: int = 16,
    compact_threshold: int = 16,
    minor_compact_threshold: int | None = None,
    validate: bool = True,
    lineage: LineageLog | None = None,
    io=None,
    key_col: "str | list[str]" = "doc_id",
    history_tables: bool = False,
    branch: "str | None" = None,
) -> dict:
    """Apply one micro-batch of change events to the warehouse.

    Idempotent per (app_id, table, epoch): replaying a committed epoch is
    a no-op (per-table epoch ledger).

    ``key_col`` — the primary key column(s); pass a list for compound
    keys (tables are created with / merged on the tuple).

    ``history_tables`` — SCD2 capture: besides the LWW current-state
    table, every change event (deletes included) is also upserted into
    ``<table>__history`` keyed on ``(key…, lsn_key)`` — each version is
    its own key, so the SAME idempotent-merge machinery yields an
    append-only, exactly-once version log (no new write path, no
    tombstone semantics to special-case: the original ``op`` rides along
    as the ``change_op`` payload column, ``ts`` as ``event_ts``). Read
    validity intervals back with :func:`read_history`.

    Every table is written by ``lakehouse.multi_merge.merge_many``: one
    Spark job for the whole batch, with validation/delete/watermark
    counts riding it via Observation. If that call fails and
    ``error_mode`` is not ``fail``, the batch falls back to one
    ``merge_many`` call per table that did not commit, so a poison table
    cannot take down its siblings (E2/E3 semantics,
    ErrorCollectingRecordReader.java:58-73); each table that still fails
    is reported in ``failed`` (and on the error port). Either way, CHECK
    constraints are enforced per live event and a table whose key
    differs from ``key_col`` refuses the batch. A batch with no failed
    table publishes one warehouse snapshot pinning its tables' versions.

    ``branch`` — STAGE the batch instead of committing it: every
    touched table's commit lands on that named branch of the table
    (created at its current version if absent), invisible to main
    reads, the change feed, replicas, and the warehouse snapshot log
    until published. Use :func:`stage_cdc_batch` /
    :func:`publish_staged_batch` / :func:`discard_staged_batch`
    (streaming/wap.py) for the full warehouse-level
    write-audit-publish flow.
    """
    assert error_mode in MODES, error_mode
    # driver-side commit IO backend ("local" | "generic" | FileIO);
    # default resolves $MTP_FILEIO — see lakehouse/fileio.py
    io = get_fileio(io)
    if lineage is None:
        lineage = LineageLog(warehouse)

    if history_tables:
        # refuse a clashing feed BEFORE any table commits: checking
        # after the main apply would permanently commit current-state
        # epochs (the ledger then skips them on replay) while capturing
        # no history for that epoch — a silent half-applied batch
        clash = {"change_op", "lsn_key", "event_ts"} & set(batch_df.columns)
        if clash:
            # withColumn would silently overwrite a user payload column
            # of the same name in the history table only — refuse loudly
            raise ValueError(
                f"history_tables=True reserves column name(s) {sorted(clash)} "
                "for the version log; rename the payload column(s)"
            )
        main = apply_cdc_batch(
            spark, batch_df, warehouse, epoch, app_id, error_mode,
            allow_tables, block_tables, n_buckets, compact_threshold,
            minor_compact_threshold, validate, lineage, io, key_col,
            history_tables=False, branch=branch,
        )
        src = batch_df.filter(~errmod.invalid_condition()) if validate else batch_df
        src = _route(src, allow_tables, block_tables)
        # never capture history OF a history-suffixed table (no
        # x__history__history); a feed table literally named x__history
        # alongside x is refused downstream by merge_many's key guard
        # (LWW key vs (key, lsn_key) mismatch on the shared path)
        src = src.filter(~F.col("table_name").endswith(HISTORY_SUFFIX))
        hist = src.withColumn("change_op", F.col("op")).withColumn(
            "lsn_key", F.col("lsn")
        )
        if "ts" in src.columns:
            hist = hist.withColumn("event_ts", F.col("ts"))
        hist = hist.withColumn("op", F.lit("U")).withColumn(
            "table_name", F.concat(F.col("table_name"), F.lit(HISTORY_SUFFIX))
        )
        keys = [key_col] if isinstance(key_col, str) else list(key_col)
        hres = apply_cdc_batch(
            spark, hist, warehouse, epoch, app_id, error_mode,
            (), (), n_buckets, compact_threshold,
            minor_compact_threshold, False, lineage, io, keys + ["lsn_key"],
            history_tables=False, branch=branch,
        )
        main["history"] = hres["tables"]
        # a failed history merge must be as visible as a failed main
        # merge — monitoring keyed on result["failed"] sees both
        main["failed"] = list(main.get("failed", ())) + list(
            hres.get("failed", ())
        )
        return main

    compile0 = _jvm_compile_ms(spark)
    good = batch_df
    obs_v = None
    if validate:
        if error_mode == FAIL:
            # strict mode: know about invalid rows BEFORE applying anything
            good, bad = split_valid_invalid(batch_df, reference_name=app_id)
            _flush_validation_errors(
                spark, bad, warehouse, app_id, error_mode, epoch=epoch
            )
        else:
            # count invalid rows on the apply job itself (no extra scan);
            # materialize them afterwards only if the count is non-zero
            is_bad = errmod.invalid_condition()
            obs_v = Observation()
            observed = batch_df.observe(
                obs_v, F.sum(is_bad.cast("int")).alias("n_bad")
            )
            good = observed.filter(~is_bad)
    good = _route(good, allow_tables, block_tables)

    merge_kw = dict(
        app_id=app_id,
        epoch=epoch,
        n_buckets=n_buckets,
        compact_threshold=compact_threshold,
        minor_compact_threshold=minor_compact_threshold,
        io=io,
        key_col=key_col,
        # CHECK-constraint violations follow the pipeline's error
        # discipline: FAIL aborts the batch, skip / error-port drop
        # them with a counted metric
        on_violation="fail" if error_mode == FAIL else "drop",
        branch=branch,
    )
    failures: dict[str, Exception] = {}
    try:
        results = multi_merge.merge_many(spark, good, warehouse, **merge_kw)
    except Exception as e:  # KeyboardInterrupt/SystemExit must propagate
        if error_mode == FAIL:
            raise
        lineage.emit(
            {
                "kind": "fast_path_fallback",
                "app_id": app_id,
                "epoch": epoch,
                "error": str(e),
            }
        )
        results, failures, stats = _apply_per_table(
            spark, batch_df, warehouse, e, error_mode,
            allow_tables, block_tables, validate, merge_kw,
        )
    else:
        stats = results.pop("_batch")
        if (
            error_mode == ERROR_PORT
            and obs_v is not None
            and (obs_v.get.get("n_bad") or 0) > 0
        ):
            write_errors(
                batch_df.filter(errmod.invalid_condition()).select(
                    *errmod.error_projection(app_id, columns=batch_df.columns)
                ),
                warehouse,
                app_id=app_id,
                epoch=epoch,
                kind="validation",
            )

    _report_rejected(
        spark, lineage, warehouse, app_id, epoch, error_mode,
        stats["unsafe_tables"], failures,
    )
    fields = [f.name for f in payload_schema_of_changes(batch_df.schema).fields]
    stats["jvm_compile_ms"] = _jvm_compile_ms(spark) - compile0
    _emit_applied(lineage, warehouse, app_id, epoch, fields, stats, results)
    # a COMPLETE batch advances the warehouse snapshot, pinning the
    # versions each commit ITSELF produced (never a re-read of "latest" —
    # a concurrent writer's half-committed batch must not leak into the
    # pin map). An incomplete batch publishes nothing — readers stay on
    # the last complete one — and staged commits never pin one.
    if not failures and branch is None:
        publish_batch_snapshot(
            io,
            warehouse,
            {t: m["version"] for t, m in results.items() if m.get("version") is not None},
            app_id,
            epoch,
            lineage=lineage,
        )
    return {"tables": results, "failed": sorted(failures), "epoch": epoch}


def _route(
    df: DataFrame, allow_tables: tuple[str, ...], block_tables: tuple[str, ...]
) -> DataFrame:
    """Keep the events of the allowed, unblocked tables."""
    if allow_tables:
        df = df.filter(F.col("table_name").isin(*allow_tables))
    if block_tables:
        df = df.filter(~F.col("table_name").isin(*block_tables))
    return df


def _apply_per_table(
    spark: SparkSession,
    batch_df: DataFrame,
    warehouse: str,
    error: Exception,
    error_mode: str,
    allow_tables: tuple[str, ...],
    block_tables: tuple[str, ...],
    validate: bool,
    merge_kw: dict,
) -> "tuple[dict[str, dict], dict[str, Exception], dict]":
    """The fast-path fallback: after the one-job ``merge_many`` raised
    ``error``, re-validate the batch and call ``merge_many`` once per
    table that did not commit, so a failure stays with its table.
    Returns (committed results, {table: exception}, batch stats)."""
    batch_df = batch_df.persist()
    try:
        # a fresh validated frame: the fast path's Observations are
        # never read again (only the first finished action sets one)
        good = batch_df
        if validate:
            app_id = merge_kw["app_id"]
            good, bad = split_valid_invalid(batch_df, reference_name=app_id)
            _flush_validation_errors(
                spark, bad, warehouse, app_id, error_mode, epoch=merge_kw["epoch"]
            )
        good = _route(good, allow_tables, block_tables)
        wm = F.max("ts") if "ts" in good.columns else F.lit(None)
        per_table = (
            good.groupBy("table_name")
            .agg(wm.alias("wm"), F.max("lsn").alias("max_lsn"))
            .collect()
        )
        # tables that committed before a sibling failed are not re-run
        results: dict[str, dict] = dict(getattr(error, "partial_results", None) or {})
        failures: dict[str, Exception] = {}
        unsafe: list[str] = []

        def apply_one(t: str) -> None:
            try:
                r = multi_merge.merge_many(
                    spark,
                    good.filter(F.col("table_name").eqNullSafe(t)),
                    warehouse,
                    **merge_kw,
                )
            except Exception as e:  # isolated per table; interrupts propagate
                failures[t] = getattr(e, "failures", {}).get(t, e)
                return
            unsafe.extend(r.pop("_batch")["unsafe_tables"])
            results.update(r)

        todo = [r["table_name"] for r in per_table if r["table_name"] not in results]
        with ThreadPoolExecutor(max_workers=multi_merge.COMMIT_THREADS) as ex:
            list(ex.map(apply_one, todo))

        def top(col: str):
            return max((r[col] for r in per_table if r[col] is not None), default=None)

        stats = {
            "watermark": top("wm"),
            "max_lsn": top("max_lsn"),
            "unsafe_tables": sorted(unsafe),
        }
        return results, failures, stats
    finally:
        batch_df.unpersist()


def _report_rejected(
    spark, lineage, warehouse, app_id, epoch, error_mode, unsafe, failures
) -> None:
    """Record the tables that did not apply: one ``table_rejected``
    lineage record per unsafe name and one ``table_failure`` record per
    failed table, plus one error row each under error-port."""
    for n in unsafe:
        lineage.emit(
            {
                "kind": "table_rejected",
                "app_id": app_id,
                "epoch": epoch,
                "table": n,
                "error": "unsafe table name",
            }
        )
    for t, e in sorted(failures.items()):
        lineage.emit(
            {
                "kind": "table_failure",
                "app_id": app_id,
                "epoch": epoch,
                "table": t,
                "error": str(e),
            }
        )
    if error_mode != ERROR_PORT:
        return
    rows = {
        "unsafe": [
            (n, f"unsafe table name {n!r} rejected", "UnsafeTableName")
            for n in unsafe
        ],
        "failure": [
            (
                t,
                "".join(traceback.format_exception_only(type(e), e)).strip(),
                type(e).__name__,
            )
            for t, e in sorted(failures.items())
        ],
    }
    for kind, recs in rows.items():
        if recs:
            write_errors(
                errmod.error_df(
                    spark,
                    [
                        errmod.ErrorRecord(
                            reference_name=app_id,
                            error_message=msg,
                            exception_class_name=cls,
                            table_name=t,
                        )
                        for t, msg, cls in recs
                    ],
                ),
                warehouse,
                app_id=app_id,
                epoch=epoch,
                kind=kind,
            )


def _emit_applied(lineage, warehouse, app_id, epoch, fields, stats, results) -> None:
    """One ``cdc_apply`` lineage record per committed table. The batch-wide
    fields (``watermark``, ``max_lsn``, ``jvm_compile_ms``: the driver
    JVM's JIT time while the batch ran) repeat on each."""
    for t, m in results.items():
        lineage.emit(
            {
                "kind": "cdc_apply",
                "app_id": app_id,
                "epoch": epoch,
                "table": t,
                "fqn": lake_fqn(warehouse, t),
                "fields": fields,
                "watermark": stats.get("watermark"),
                "max_lsn": stats.get("max_lsn"),
                "jvm_compile_ms": stats["jvm_compile_ms"],
                **m,
            }
        )


def _flush_validation_errors(
    spark, bad, warehouse, app_id, error_mode, epoch=None
) -> int:
    """Write row-level validation errors (one cheap job; only reached
    when the caller wants the error channel materialized)."""
    if error_mode == SKIP:
        return 0
    bad = bad.persist()
    try:
        n_bad = bad.count()
        if n_bad:
            if error_mode == FAIL:
                raise TableFailure(
                    "<validation>", ValueError(f"{n_bad} invalid records")
                )
            write_errors(
                bad, warehouse, app_id=app_id, epoch=epoch, kind="validation"
            )
        return n_bad
    finally:
        bad.unpersist()


def run_cdc_stream(
    spark: SparkSession,
    feed_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    app_id: str = "cdc",
    feed_schema=None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    watermark: str = "10 minutes",
    progress_listener: bool = False,
    **apply_kw,
):
    """Start the streaming CDC query; returns the StreamingQuery.

    The change feed must have lsn/table_name/op/doc_id/ts plus payload.
    ``feed_schema`` defaults to CHANGE_FEED_SCHEMA; pass the union schema
    if the feed evolves mid-stream (see module docstring).

    ``available_now=True`` applies what the feed holds at start and
    stops; ``False`` tails it on a processing-time trigger of
    ``CONTINUOUS_TRIGGER_INTERVAL``.

    ``progress_listener=True`` additionally registers a
    StreamingQueryListener that appends the ENGINE's per-trigger progress
    (numInputRows, rates, durations, offsets) to
    ``<warehouse>/_lineage/progress.jsonl`` — the streaming analog of the
    reference's split progress (DBTableRecordReader.java:121-124). The
    listener instance is attached to the returned query as
    ``_mtp_listener`` so callers can deregister it after termination.
    """
    schema = feed_schema or CHANGE_FEED_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # latestFirst stays False: LSN order ≈ file order, keeping deltas small
    stream = reader.parquet(feed_dir).withWatermark("ts", watermark)

    lineage = LineageLog(warehouse)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(
            spark,
            batch_df,
            warehouse,
            epoch=epoch_id,
            app_id=app_id,
            lineage=lineage,
            **apply_kw,
        )

    listener = None
    if progress_listener:
        from .lineage import ProgressListener

        listener = ProgressListener(warehouse)
        spark.streams.addListener(listener)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(app_id)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=CONTINUOUS_TRIGGER_INTERVAL)
    try:
        q = writer.start()
    except BaseException:
        # a listener left registered with query_id forever None would
        # buffer (bounded) progress of every later query on the session
        # and never write a record — deregister before propagating
        if listener is not None:
            spark.streams.removeListener(listener)
        raise
    if listener is not None:
        # pin the listener to THIS query (the listener bus is
        # session-global). Events that fire between start() and this
        # assignment (possible with availableNow on a tiny feed) are
        # buffered by the listener and flushed — filtered to this query —
        # on assignment, so the race loses no events and admits no
        # foreign-query contamination.
        listener.query_id = str(q.id)
        q._mtp_listener = listener
    return q


def replay_feed_batches(
    spark: SparkSession,
    feed_files: list[str],
    warehouse: str,
    files_per_batch: int = 1,
    app_id: str = "cdc-replay",
    start_epoch: int = 0,
    **apply_kw,
) -> list[dict]:
    """Batch-mode replay in LSN order, one apply per group of files, each
    group read with its own (possibly evolved) schema."""
    out = []
    lineage = LineageLog(warehouse)
    groups = [
        feed_files[i : i + files_per_batch]
        for i in range(0, len(feed_files), files_per_batch)
    ]
    for i, g in enumerate(groups):
        df = spark.read.parquet(*g)
        out.append(
            apply_cdc_batch(
                spark,
                df,
                warehouse,
                epoch=start_epoch + i,
                app_id=app_id,
                lineage=lineage,
                **apply_kw,
            )
        )
    return out
