#!/usr/bin/env python
"""spark-submit maintenance CLI for a lakehouse warehouse — the ops
counterpart to run_cdc_job.py's ingest:

    spark-submit --py-files mtp.zip maintain.py <command> --warehouse /lake/wh [...]

Commands
--------
tables
    List every table with version, live-row/file counts, and size.
sort-order --src t --cluster-by a,b [--zorder] [--files-per-bucket N]
           | --clear
    Persist a default sort order: every compaction without explicit
    cluster args (incl. threshold auto-compactions) applies it, so a
    clustered/Z-ordered layout survives steady-state CDC.
history [--limit N]
    Commit history per table, newest first (DESCRIBE HISTORY analog):
    operation, timestamp, snapshot id, files/rows added per commit —
    driver-side metadata only, no Spark job.
compact [--tables a,b] [--minor] [--cluster [--files-per-bucket N]]
        [--cluster-by col1,col2 [--zorder]]
    Fold delta files into the base (major), or delta-merge only
    (--minor) — bucket-bounded rewrites, never O(table) unless every
    bucket carries deltas. --cluster range-sorts each rewritten bucket
    base on the key into N files so manifest min/max skipping prunes
    INSIDE buckets (sort-order rewrite / ZORDER analog); --cluster-by
    sorts on payload columns instead (pair with stats-columns so
    non-key predicates prune); --zorder bit-interleaves >= 2
    cluster-by columns so predicates on each prune independently.
expire-snapshots --keep-last N [--remove-orphans] [--tables a,b]
    Drop old manifests + the files only they referenced; optionally
    sweep stale crashed-writer orphans (Iceberg expire/remove-orphans
    analog). Bounds time-travel history and storage growth.
vacuum-tombstones --lsn-watermark W [--tables a,b]
    Physically drop tombstones below the feed's low-water mark.
replicate --src T --dst-path P --checkpoint C [--continuous]
    Incremental-refresh a replica of one table through the streaming
    change feed (exactly-once; see streaming.cdf_source.replicate_table).
snapshot [--publish]
    Show the latest cross-table consistent warehouse snapshot (pinned
    per-table versions from the last COMPLETE multi-table batch), or
    publish one pinning every table's current version.
rebucket --n-buckets N [--cluster] [--tables a,b]
    Bucket-layout evolution: full rewrite hashing every row with the
    new bucket count (concurrent merges hashed with the old layout
    conflict and re-bucket instead of corrupting the manifest).
constraint --src T [--add NAME EXPR [--no-validate]] [--drop NAME]
    Add (validating existing data first), drop, or list CHECK
    constraints; merges then enforce them (fail, or drop + count with
    merge_into(on_violation="drop")).
refresh-rollup --src T --view-path P --group-by g1,g2 [--sum c1,c2]
               [--continuous [--poll-interval S] [--max-polls N]]
    Create or incrementally refresh a materialized GROUP BY view
    (sum_<col> + row_count per group) — O(changes) per refresh via the
    change feed's old/new values (see lakehouse.rollup.refresh_rollup).
    --continuous runs a restart-safe poll-and-refresh loop (one JSON
    line per poll; each refresh exactly-once on the source-version
    ledger).
drop-column --src T --column C
    Metadata-only column drop: new schema version, files untouched,
    the name tombstoned so it can never silently resurrect old values
    by evolving back in (name-based column mapping).
branch --src T [--create NAME [--version V]] [--fast-forward NAME]
       [--drop NAME]
    Staging branches (write-audit-publish): fork a branch, apply a
    suspect batch on it via the branch handle (invisible to main, the
    change feed, and replicas), audit, then fast-forward to publish —
    or drop to discard. Prefix-checked: main advancing independently
    conflicts instead of silently merging.
publish-staged --branch B
discard-staged --branch B
    Warehouse-level write-audit-publish (streaming/wap.py): a batch
    staged with stage_cdc_batch(branch=B) across many tables is
    published in one command — every table's branch fast-forwarded,
    then ONE warehouse snapshot pinning the published heads (snapshot
    readers flip to the whole batch atomically) — or discarded.
    Idempotently resumable after a crash mid-publish.
stats-columns --src T [--set '["col", ...]']
    Payload column-bounds stats (Iceberg column-bounds analog):
    base-file min/max recorded for the named payload columns at the
    next compaction, letting read(where=) prune files on non-key
    predicates in delta-free buckets. Without --set, prints the
    current set. Metadata-only; float columns refused (NaN).
tag --src T [--add NAME [--version V]] [--drop NAME]
    Named, immutable snapshot pins (Iceberg tag analog). A tagged
    version's manifest and files survive expire-snapshots until the
    tag is dropped; read back via LakeTable.read(tag=NAME).
delete-where --src T --where '[["col","op",value], ...]'
update-where --src T --where '[...]' --set '{"col": literal, ...}'
    Predicate DML: matching live rows are read at a pinned version
    (key predicates prune files via manifest stats), re-emitted as
    ordinary 'D'/'U' change events, and merged with the concurrent-
    writer guard — so the change feed, replicas, and constraints all
    see DML like any other change. GDPR erasure = delete-where, then
    compact + expire-snapshots + vacuum-tombstones to purge bytes.

All commands route driver-side IO through the FileIO seam
(--fileio local|generic, default $MTP_FILEIO).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(cpus_env: str = "SPARK_GRAFT_CPUS"):
    from multi_table_plugins_spark.session import get_spark

    return get_spark("mtp-maintain", cores=int(os.environ.get(cpus_env, "8")))


def _tables_of(warehouse: str, io, only: "list[str]") -> "list[str]":
    from multi_table_plugins_spark.lakehouse.table import discover_tables

    names = list(discover_tables(io, warehouse, set(only), set()))
    if only:
        missing = sorted(set(only) - set(names))
        if missing:
            raise SystemExit(f"no such table(s) under {warehouse}: {missing}")
    return names


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--tables", default="",
                        help="comma list; default: every table")
        sp.add_argument("--fileio", default=None,
                        choices=["local", "generic"])

    common(sub.add_parser("tables", help="list tables + stats"))
    sp = sub.add_parser("history", help="commit history per table")
    common(sp)
    sp.add_argument("--limit", type=int, default=None,
                    help="newest N commits only (default: all retained)")
    sp = sub.add_parser("compact", help="fold deltas into the base")
    common(sp)
    sp.add_argument("--minor", action="store_true",
                    help="delta-merge only (leave the base untouched)")
    sp.add_argument("--cluster", action="store_true",
                    help="range-cluster each bucket base on the key so "
                         "min/max file skipping prunes inside buckets")
    sp.add_argument("--cluster-by", default=None, metavar="COL[,COL...]",
                    help="cluster on these columns instead of the key "
                         "(pair with stats-columns so non-key "
                         "predicates prune; implies --cluster)")
    sp.add_argument("--zorder", action="store_true",
                    help="bit-interleave the --cluster-by columns "
                         "(>= 2, numeric/date/timestamp) instead of "
                         "sorting lexicographically, so predicates on "
                         "EACH column prune files independently")
    sp.add_argument("--files-per-bucket", type=int, default=4)
    sp = sub.add_parser("expire-snapshots", help="drop old manifests + files")
    common(sp)
    sp.add_argument("--keep-last", type=int, required=True)
    sp.add_argument("--remove-orphans", action="store_true")
    sp = sub.add_parser("vacuum-tombstones", help="drop old tombstones")
    common(sp)
    sp.add_argument("--lsn-watermark", type=int, required=True)
    sp = sub.add_parser("replicate", help="refresh a streaming CDF replica")
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="source table name")
    sp.add_argument("--dst-path", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--continuous", action="store_true")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "snapshot",
        help="show / publish the cross-table consistent warehouse snapshot",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--publish", action="store_true",
                    help="pin every table's CURRENT version as a new snapshot")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "rebucket", help="change the bucket count (full rewrite)"
    )
    common(sp)
    sp.add_argument("--n-buckets", type=int, required=True)
    sp.add_argument("--cluster", action="store_true",
                    help="also range-cluster the rewritten bases")
    sp = sub.add_parser(
        "constraint", help="add/drop/list CHECK constraints on one table"
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--add", nargs=2, metavar=("NAME", "EXPR"))
    sp.add_argument("--drop", dest="drop_name", metavar="NAME")
    sp.add_argument("--no-validate", action="store_true",
                    help="skip the existing-data validation scan on --add")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "refresh-rollup",
        help="create/refresh an incremental GROUP BY view of one table",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="source table name")
    sp.add_argument("--view-path", required=True)
    sp.add_argument("--group-by", required=True, help="comma list")
    sp.add_argument("--sum", default="", dest="sum_cols",
                    help="comma list of numeric columns to sum")
    sp.add_argument("--n-buckets", type=int, default=32)
    sp.add_argument("--continuous", action="store_true",
                    help="poll-and-refresh loop (each refresh is "
                         "exactly-once on the view's source-version "
                         "ledger, so the loop is restart-safe)")
    sp.add_argument("--poll-interval", type=float, default=5.0)
    sp.add_argument("--max-polls", type=int, default=0,
                    help="stop after N polls (0 = run until killed)")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "drop-column", help="drop a payload column (metadata-only)"
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--column", required=True)
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "tag", help="create/delete/list retention-proof snapshot tags"
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--add", metavar="NAME")
    sp.add_argument("--version", type=int, default=None,
                    help="version to pin (default: current)")
    sp.add_argument("--drop", dest="drop_name", metavar="NAME")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "branch",
        help="create/delete/fast-forward/list staging branches (WAP)",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--create", metavar="NAME")
    sp.add_argument("--version", type=int, default=None,
                    help="fork point for --create (default: current)")
    sp.add_argument("--drop", dest="drop_name", metavar="NAME")
    sp.add_argument("--fast-forward", dest="ff_name", metavar="NAME")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "stats-columns",
        help="get/set payload column-bounds stats columns",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--set", dest="set_cols", default=None,
                    help='JSON list of payload columns, e.g. \'["source"]\'')
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    for wcmd in ("publish-staged", "discard-staged"):
        sp = sub.add_parser(
            wcmd,
            help=f"{wcmd.split('-')[0]} a warehouse-level staged batch (WAP)",
        )
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--branch", required=True)
        sp.add_argument("--fileio", default=None,
                        choices=["local", "generic"])
    sp = sub.add_parser(
        "delete-where",
        help="predicate DELETE (tombstones via the normal merge path)",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--where", required=True,
                    help='JSON predicate list, e.g. \'[["source","=","x"]]\'')
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "sort-order",
        help="persist a default sort order (applied by every "
             "compaction without explicit cluster args, including "
             "threshold auto-compactions)",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--cluster-by", default=None, metavar="COL[,COL...]",
                    help="columns to cluster on; empty string = the key")
    sp.add_argument("--zorder", action="store_true")
    sp.add_argument("--files-per-bucket", type=int, default=4)
    sp.add_argument("--clear", action="store_true",
                    help="remove the persisted order")
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])
    sp = sub.add_parser(
        "update-where",
        help="predicate UPDATE with literal assignments",
    )
    sp.add_argument("--warehouse", required=True)
    sp.add_argument("--src", required=True, help="table name")
    sp.add_argument("--where", required=True,
                    help='JSON predicate list, e.g. \'[["a",">=",3]]\'')
    sp.add_argument("--set", required=True, dest="set_json",
                    help='JSON assignment map, e.g. \'{"source":"x"}\'')
    sp.add_argument("--fileio", default=None, choices=["local", "generic"])

    a = p.parse_args()
    if a.cmd == "compact" and a.minor and (a.cluster or a.cluster_by):
        p.error(
            "--cluster/--cluster-by requires a major compaction (it "
            "rewrites bucket bases); drop --minor"
        )
    if a.cmd == "compact" and a.zorder and not a.cluster_by:
        p.error("--zorder requires --cluster-by with at least two columns")
    from multi_table_plugins_spark.lakehouse import LakeTable
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio

    io = get_fileio(a.fileio)
    spark = _spark()
    out: dict = {"cmd": a.cmd, "tables": {}}
    if a.cmd == "replicate":
        from multi_table_plugins_spark.streaming.cdf_source import (
            replicate_table,
        )

        q = replicate_table(
            spark,
            os.path.join(a.warehouse, a.src),
            a.dst_path,
            a.checkpoint,
            available_now=not a.continuous,
            fileio=a.fileio,
        )
        q.awaitTermination()
        out["tables"][a.src] = {
            "replica_rows": LakeTable(spark, a.dst_path, io=io).read().count()
        }
    elif a.cmd == "snapshot":
        from multi_table_plugins_spark.lakehouse.snapshots import (
            latest_snapshot,
            publish_snapshot,
        )

        if a.publish:
            versions = {
                t: LakeTable(
                    spark, os.path.join(a.warehouse, t), io=io
                ).manifest()["version"]
                for t in _tables_of(a.warehouse, io, [])
            }
            out["snapshot"] = publish_snapshot(io, a.warehouse, versions)
        else:
            out["snapshot"] = latest_snapshot(io, a.warehouse)
    elif a.cmd == "constraint":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        if a.add:
            lt.add_constraint(a.add[0], a.add[1], validate=not a.no_validate)
        if a.drop_name:
            lt.drop_constraint(a.drop_name)
        out["tables"][a.src] = {"constraints": lt.constraints()}
    elif a.cmd == "refresh-rollup":
        import time as _time

        from multi_table_plugins_spark.lakehouse.rollup import refresh_rollup

        def _refresh():
            return refresh_rollup(
                spark,
                os.path.join(a.warehouse, a.src),
                a.view_path,
                group_cols=[
                    c.strip() for c in a.group_by.split(",") if c.strip()
                ],
                sum_cols=[
                    c.strip() for c in a.sum_cols.split(",") if c.strip()
                ],
                io=io,
                n_buckets=a.n_buckets,
            )

        if a.continuous:
            # poll loop over an idempotent exactly-once refresh: each
            # iteration is one listdir + (only when the source version
            # advanced) one O(changes) incremental refresh. One JSON
            # line per poll; kill/restart-safe by construction.
            polls = 0
            try:
                while True:
                    r = _refresh()
                    polls += 1
                    print(json.dumps({"cmd": a.cmd, "src": a.src, **r}),
                          flush=True)
                    if a.max_polls and polls >= a.max_polls:
                        break
                    _time.sleep(a.poll_interval)
            except KeyboardInterrupt:
                pass
            spark.stop()
            return
        out["tables"][a.src] = _refresh()
    elif a.cmd == "drop-column":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        sv = lt.drop_column(a.column)
        out["tables"][a.src] = {
            "schema_version": sv,
            "columns": lt.schema().fieldNames(),
        }
    elif a.cmd == "tag":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        if a.add:
            lt.create_tag(a.add, version=a.version)
        if a.drop_name:
            lt.delete_tag(a.drop_name)
        out["tables"][a.src] = {"tags": lt.tags()}
    elif a.cmd == "branch":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        info: dict = {}
        if a.create:
            info["created"] = lt.create_branch(a.create, version=a.version)
        if a.ff_name:
            info["fast_forwarded"] = lt.fast_forward(a.ff_name)
        if a.drop_name:
            lt.delete_branch(a.drop_name)
        info["branches"] = lt.branches()
        out["tables"][a.src] = info
    elif a.cmd == "stats-columns":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        if a.set_cols is not None:
            out["tables"][a.src] = lt.set_stats_columns(
                json.loads(a.set_cols)
            )
        else:
            out["tables"][a.src] = {"stats_columns": lt.stats_columns()}
    elif a.cmd == "publish-staged":
        from multi_table_plugins_spark.streaming import publish_staged_batch

        out["wap"] = publish_staged_batch(spark, a.warehouse, a.branch, io=io)
    elif a.cmd == "discard-staged":
        from multi_table_plugins_spark.streaming import discard_staged_batch

        out["wap"] = discard_staged_batch(a.warehouse, a.branch, io=io)
    elif a.cmd == "sort-order":
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        if a.clear:
            out["tables"][a.src] = lt.set_sort_order(None)
        else:
            if a.cluster_by is None:
                p.error("sort-order needs --cluster-by (or --clear)")
            cols = [c for c in a.cluster_by.split(",") if c]
            out["tables"][a.src] = lt.set_sort_order(
                cols,
                zorder=a.zorder,
                files_per_bucket=a.files_per_bucket,
            )
    elif a.cmd in ("delete-where", "update-where"):
        lt = LakeTable(spark, os.path.join(a.warehouse, a.src), io=io)
        preds = [tuple(x) for x in json.loads(a.where)]
        if a.cmd == "delete-where":
            out["tables"][a.src] = lt.delete_where(preds)
        else:
            out["tables"][a.src] = lt.update_where(
                preds, json.loads(a.set_json)
            )
    else:
        only = [t.strip() for t in a.tables.split(",") if t.strip()]
        for t in _tables_of(a.warehouse, io, only):
            lt = LakeTable(spark, os.path.join(a.warehouse, t), io=io)
            if a.cmd == "tables":
                m = lt.manifest()
                files = sum(
                    len(b.get("base", [])) + len(b.get("delta", []))
                    for b in m["buckets"].values()
                )
                size = sum(
                    e["bytes"]
                    for b in m["buckets"].values()
                    for part in ("base", "delta")
                    for e in b.get(part, [])
                )
                out["tables"][t] = {
                    "version": m["version"],
                    "files": files,
                    "bytes": size,
                    "rows": lt.count(),
                    "n_buckets": m["n_buckets"],
                    "key": m["key"],
                    "sort_order": m.get("sort_order"),
                    "constraints": m.get("constraints") or {},
                    "dropped_columns": m.get("dropped_columns") or [],
                }
            elif a.cmd == "history":
                out["tables"][t] = lt.history(limit=a.limit)
            elif a.cmd == "compact":
                if a.minor:
                    out["tables"][t] = lt.compact_deltas()
                else:
                    out["tables"][t] = lt.compact(
                        cluster=a.cluster,
                        files_per_bucket=a.files_per_bucket,
                        cluster_by=(
                            # same empty-segment normalization as the
                            # sort-order command: 'n_tok,' must not pass
                            # an empty column name into compact()
                            [c for c in a.cluster_by.split(",") if c]
                            if a.cluster_by
                            else None
                        ),
                        zorder=a.zorder,
                    )
            elif a.cmd == "expire-snapshots":
                out["tables"][t] = lt.expire_snapshots(
                    keep_last=a.keep_last, remove_orphans=a.remove_orphans
                )
            elif a.cmd == "vacuum-tombstones":
                out["tables"][t] = lt.vacuum_tombstones(a.lsn_watermark)
            elif a.cmd == "rebucket":
                out["tables"][t] = lt.rebucket(
                    a.n_buckets, cluster=a.cluster
                )
    print(json.dumps(out, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
