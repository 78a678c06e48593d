#!/usr/bin/env python3
"""Fold the same input once by each fold lane and measure it.

    python3 tools/fold_lane_probe.py --mib 1,4,16,64 --reps 2

For each size, rep and lane a fresh process builds a table like the
benchmark's (string key, array-of-int tokens, 10% tombstones, 4
buckets) with four delta batches whose entry ``bytes`` sum to about
``MIB`` MiB, warms the lane up on a small fold, then folds the table
once through ``table.fold_tables`` with the lane forced by
``table.DRIVER_FOLD_MAX_BYTES``. It prints one JSON line: the fold's
input bytes, wall time, CPU time of the Python driver and of the
driver JVM, and how far each process's resident set rose above its
level just before the fold (sampled every 5 ms). The lanes run in
alternating order, and a table of medians ends the run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: delta entry bytes per generated row of the probe's schema (64 tokens
#: on average; a batch keeps about 43% of its rows once its repeated
#: keys resolve), to size the batches
_ROW_BYTES = 120
_TICK = os.sysconf("SC_CLK_TCK")


def _rss_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


class _Peak(threading.Thread):
    """The highest resident set of ``pids`` while it runs."""

    def __init__(self, pids):
        super().__init__(daemon=True)
        self.pids, self.peak, self.done = pids, {p: 0.0 for p in pids}, False

    def run(self):
        while not self.done:
            for p in self.pids:
                self.peak[p] = max(self.peak[p], _rss_mib(p))
            time.sleep(0.005)


def _batch_file(path: str, rows: int, keys: int, lsn0: int, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    dead = rng.random(rows) < 0.1
    lengths = np.where(dead, 0, np.clip(rng.poisson(64, rows), 1, 128))
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, 50_000, int(offsets[-1]), dtype=np.int32))
    )
    pq.write_table(
        pa.table({
            "lsn": pa.array(np.arange(lsn0, lsn0 + rows, dtype=np.int64)),
            "op": pa.array(np.where(dead, "D", "U")),
            "doc_id": pa.array([f"k{k}" for k in rng.integers(0, keys, rows)]),
            "tokens": tokens,
            "n_tok": pa.array(lengths.astype(np.int32)),
            "source": pa.array(np.array(["web", "pdf", "code", "wiki"])[rng.integers(0, 4, rows)]),
        }),
        path,
    )


def _table(spark, work: str, name: str, mib: float):
    """A table whose four delta batches hold about ``mib`` MiB."""
    from multi_table_plugins_spark.lakehouse import LakeTable

    rows = max(100, int(mib * 2**20 / _ROW_BYTES / 4))
    lt = None
    for epoch in range(4):
        f = os.path.join(work, f"{name}-{epoch}.parquet")
        _batch_file(f, rows, rows // 2, 1 + epoch * rows, epoch)
        df = spark.read.parquet(f)
        if lt is None:
            lt = LakeTable.create(
                spark, os.path.join(work, name),
                df.drop("lsn", "op").schema, key="doc_id", n_buckets=4,
                compact_threshold=1000,
            )
        lt.merge_into(df, app_id="probe", epoch=epoch)
    return lt


def child(lane: str, mib: float, cores: int, work: str) -> dict:
    sys.path.insert(0, ROOT)
    from multi_table_plugins_spark import session
    from multi_table_plugins_spark.lakehouse import table

    spark = session.get_spark(
        "fold-lane-probe", cores=cores,
        extra_conf={"spark.driver.memory": "4g", "spark.ui.showConsoleProgress": "false"},
    )
    jvm = spark.sparkContext._gateway.proc.pid
    table.DRIVER_FOLD_MAX_BYTES = math.inf if lane == "driver" else -1
    try:
        table.fold_tables([(_table(spark, work, "warm", 0.25), None)])
        lt = _table(spark, work, "probe", mib)
        size = sum(e["bytes"] for b in lt.manifest()["buckets"].values() for e in b["delta"])
        rss0 = {p: _rss_mib(p) for p in (os.getpid(), jvm)}
        cpu0, jcpu0, t0 = time.process_time(), _cpu_s(jvm), time.perf_counter()
        peak = _Peak([os.getpid(), jvm])
        peak.start()
        [r] = table.fold_tables([(lt, None)])
        wall = time.perf_counter() - t0
        peak.done = True
        peak.join()
        if isinstance(r, Exception):
            raise r
        assert r["fold_lane"] == lane, r
        return {
            "lane": lane, "mib": mib, "input_bytes": size,
            "wall_s": round(wall, 3),
            "cpu_py_s": round(time.process_time() - cpu0, 3),
            "cpu_jvm_s": round(_cpu_s(jvm) - jcpu0, 3),
            "rss_py_mib": round(peak.peak[os.getpid()] - rss0[os.getpid()], 1),
            "rss_jvm_mib": round(peak.peak[jvm] - rss0[jvm], 1),
        }
    finally:
        spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mib", default="1,4,16,64", help="fold input sizes in MiB")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cores", type=int, default=4, help="local[N] of each run")
    ap.add_argument("--child", nargs=2, metavar=("LANE", "MIB"), help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    if a.child:
        print(json.dumps(child(a.child[0], float(a.child[1]), a.cores, a.work)), flush=True)
        return 0
    runs = []
    for rep in range(a.reps):
        for i, mib in enumerate(a.mib.split(",")):
            lanes = ("driver", "spark") if (rep + i) % 2 == 0 else ("spark", "driver")
            for lane in lanes:
                work = tempfile.mkdtemp(prefix="fold-probe-")
                try:
                    out = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--child", lane, mib,
                         "--cores", str(a.cores), "--work", work],
                        check=True, capture_output=True, text=True,
                    ).stdout
                finally:
                    shutil.rmtree(work, ignore_errors=True)
                run = json.loads(out.strip().splitlines()[-1])
                print(json.dumps(run), flush=True)
                runs.append(run)
    print("\n| MiB | input MiB | lane | wall s | CPU s (py + jvm) | py RSS +MiB | jvm RSS +MiB |")
    print("|---|---|---|---|---|---|---|")
    for mib in a.mib.split(","):
        for lane in ("driver", "spark"):
            rs = [r for r in runs if r["lane"] == lane and r["mib"] == float(mib)]

            def med(k):
                return statistics.median(r[k] for r in rs)

            print(
                f"| {mib} | {med('input_bytes') / 2**20:.1f} | {lane} | {med('wall_s'):.2f} "
                f"| {med('cpu_py_s'):.2f} + {med('cpu_jvm_s'):.2f} "
                f"| {med('rss_py_mib'):.0f} | {med('rss_jvm_mib'):.0f} |"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
