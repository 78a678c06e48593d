#!/usr/bin/env python
"""spark-submit entry point for the CDC ingest job.

    spark-submit --py-files mtp.zip run_cdc_job.py \
        --feed-dir /data/binlog --warehouse /lake/wh \
        --checkpoint /lake/ckpt --app-id prod-cdc \
        [--continuous] [--max-files-per-trigger 32] [--n-buckets 64] \
        [--error-mode error-port] [--block-tables a,b]

Each micro-batch is applied to all of its tables by one Spark job. If that
job fails under --error-mode skip or error-port, every table that did not
commit is re-applied on its own; a table that fails again skips the batch
(error-port also writes an error row for it) while its siblings commit.

Build the zip with:  (cd <repo> && zip -r mtp.zip multi_table_plugins_spark)
and add  --driver-class-path <repo>/multi_table_plugins_spark/jvm/mtp-localfs.jar
so Hadoop's local filesystem sets file modes without forking chmod (the
job runs without it, slower; it logs which ``file:`` filesystem is active).

Also pass the driver JIT policy, the HotSpot flags in
``multi_table_plugins_spark.session.JIT_POLICY`` (README "Driver JIT policy"):

    JIT=$(cd <repo> && python -c "from multi_table_plugins_spark.session import JIT_POLICY; print(' '.join(JIT_POLICY))")
    spark-submit --driver-java-options "$JIT" ...

They raise HotSpot's C2 promotion thresholds about 10x, so the driver
stops recompiling code that runs a few hundred times per micro-batch at
C2; hot loops still reach C2. On a 4-vCPU host they cut the CPU per event
by 30% on a stream of 2,000-event batches and by 6% on 80k-event batches,
at the cost of slower batches while the code warms. A locally launched
session sets these flags itself; under spark-submit the JVM is already
running, so without them the job logs one warning naming the flag.

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally it falls back to local[$SPARK_GRAFT_CPUS]. The job is
resumable: same --checkpoint + --app-id after a kill replays exactly-once
(offsets from the checkpoint, committed epochs skipped by each table's
ledger).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--feed-dir", required=True)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--app-id", default="cdc")
    p.add_argument("--continuous", action="store_true",
                   help="keep tailing the feed (default: drain available and stop)")
    p.add_argument("--max-files-per-trigger", type=int, default=32)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--compact-threshold", type=int, default=16)
    p.add_argument("--minor-compact-threshold", type=int, default=None,
                   help="two-tier compaction: delta-merge (minor) at this "
                        "count, base fold (major) at --compact-threshold")
    p.add_argument("--error-mode", default="error-port",
                   choices=["fail", "skip", "error-port"])
    p.add_argument("--allow-tables", default="")
    p.add_argument("--block-tables", default="")
    p.add_argument("--watermark", default="10 minutes")
    p.add_argument("--progress-listener", action="store_true",
                   help="also log engine-reported per-trigger progress "
                        "to <warehouse>/_lineage/progress.jsonl")
    p.add_argument("--history-tables", action="store_true",
                   help="SCD2 capture: also upsert every change event "
                        "(deletes included) into <table>__history keyed "
                        "on (key, lsn) — an exactly-once version log; "
                        "read intervals back with streaming.read_history")
    p.add_argument("--fileio", default=None, choices=["local", "generic"],
                   help="driver-side commit IO backend: 'local' (hard "
                        "links + link CAS; default) or 'generic' (copy + "
                        "exclusive-create — the object-store shape). "
                        "Defaults to $MTP_FILEIO or 'local'.")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from multi_table_plugins_spark.session import get_spark, local_fs_class
    from multi_table_plugins_spark.streaming import run_cdc_stream

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark("cdc-ingest")
    print(f"file: filesystem: {local_fs_class(spark)}", file=sys.stderr, flush=True)

    q = run_cdc_stream(
        spark,
        args.feed_dir,
        args.warehouse,
        args.checkpoint,
        app_id=args.app_id,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=not args.continuous,
        watermark=args.watermark,
        n_buckets=args.n_buckets,
        compact_threshold=args.compact_threshold,
        minor_compact_threshold=args.minor_compact_threshold,
        error_mode=args.error_mode,
        allow_tables=tuple(t for t in args.allow_tables.split(",") if t),
        block_tables=tuple(t for t in args.block_tables.split(",") if t),
        progress_listener=args.progress_listener,
        io=args.fileio,
        history_tables=args.history_tables,
    )
    q.awaitTermination()
    if args.progress_listener:
        # the listener bus delivers asynchronously — drain until the
        # progress log stops growing (bounded) so the final trigger's
        # record is not lost to process exit
        import time

        from multi_table_plugins_spark.streaming.lineage import read_progress

        prev = -1
        for _ in range(20):
            n = len(read_progress(args.warehouse))
            if n == prev:
                break
            prev = n
            time.sleep(0.25)
        spark.streams.removeListener(q._mtp_listener)


if __name__ == "__main__":
    main()
