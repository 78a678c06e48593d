"""Host sizing, scratch layout, Spark session lifetime, seeded feeds and
the DuckDB final-state oracle shared by the workloads."""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

#: checkout root (the engine package and ``__spark_entry__.py`` live here)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything a run writes stays under here (ignored by git)
WORK = os.path.join(ROOT, "perfbench", "_work")
#: cached seeded feeds + oracles kept between runs (oldest pruned first;
#: at most about 1.5 GB)
FEED_CACHE_KEEP = 36

PAYLOAD = ("doc_id", "tokens", "n_tok", "source")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of host memory, between 1 and 4 GiB, not pre-touched.
    The feed, warehouse and shuffle files sit on disk in the checkout
    (not in /dev/shm, which would draw on the same memory). Below about
    4 GiB the parquet writers of a bulk batch shrink their row groups
    and collect garbage often enough to slow the apply."""
    return max(1024, min(4096, host_mem_bytes() // 4 // 2**20))


class RunDir:
    """Per-run scratch directory inside the checkout; removed on close."""

    def __init__(self):
        os.makedirs(WORK, exist_ok=True)
        for stale in glob.glob(os.path.join(WORK, "run-*")):
            # left by a run that was killed
            if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
                shutil.rmtree(stale, ignore_errors=True)
        self.path = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        # the JVM launcher, pyarrow and duckdb all honour TMPDIR;
        # SPARK_LOCAL_DIRS would override spark.local.dir if inherited
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(run: RunDir, event_log: bool) -> dict:
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": run.sub("spark-local"),
        "spark.sql.warehouse.dir": run.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = run.sub("eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def start_session(run: RunDir, cores: int, event_log: bool = False):
    """``session.get_spark`` looked up on the module at call time so a
    traced run sees its wrapper."""
    from multi_table_plugins_spark import session

    return session.get_spark(
        "perfbench", cores=cores, extra_conf=spark_conf(run, event_log)
    )


def stop_session(spark, kill_jvm: bool = True) -> None:
    """Stop the context; with ``kill_jvm`` also end the gateway JVM and
    wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if not kill_jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM and its Python workers), including children
    they have reaped. The kernel does not charge time the hypervisor
    steals to a process, so unlike wall time this barely moves when
    other guests load the host."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since the listing
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def pin_process_tree(cpus: "set[int]") -> None:
    """``taskset`` for this process and every descendant (the JVM):
    set the affinity of each of their threads; threads they start later
    inherit it."""
    for pid in _descendants(os.getpid()):
        for task in glob.glob(f"/proc/{pid}/task/*"):
            try:
                os.sched_setaffinity(int(os.path.basename(task)), cpus)
            except (ProcessLookupError, PermissionError, OSError):
                pass


# --- seeded inputs ----------------------------------------------------------
def feed_dir_for(key: str, spec) -> "tuple[str, list[str], float]":
    """Generate (or reuse) the feed for ``spec`` under a cache key.
    Returns (dir, files in LSN order, seconds spent generating)."""
    from multi_table_plugins_spark.feed import generate_feed

    root = os.path.join(WORK, "feeds")
    d = os.path.join(root, key)
    done = os.path.join(d, "_DONE")
    t0 = time.time()
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        generate_feed(os.path.join(d, "feed"), spec)
        open(done, "w").close()
        cached = sorted(glob.glob(os.path.join(root, "*", "_DONE")), key=os.path.getmtime)
        for old in cached[:-FEED_CACHE_KEEP]:
            shutil.rmtree(os.path.dirname(old), ignore_errors=True)
    else:
        os.utime(done)
    files = sorted(glob.glob(os.path.join(d, "feed", "*.parquet")))
    return d, files, time.time() - t0


def _payload_schema():
    import pyarrow as pa

    return pa.schema([
        ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()), ("source", pa.string()),
    ])


def canonical(tbl):
    return tbl.select(list(PAYLOAD)).cast(_payload_schema()).sort_by("doc_id")


def oracle_state(feed_key_dir: str) -> "dict[str, object]":
    """``feed.expected_final_state`` of the cached feed as
    ``{table: pyarrow.Table sorted by doc_id}``, cached beside it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    odir = os.path.join(feed_key_dir, "oracle")
    done = os.path.join(odir, "_DONE")
    if not os.path.exists(done):
        from multi_table_plugins_spark.feed import expected_final_state

        shutil.rmtree(odir, ignore_errors=True)
        os.makedirs(odir)
        for t, pdf in expected_final_state(os.path.join(feed_key_dir, "feed")).items():
            tbl = pa.Table.from_pandas(pdf[list(PAYLOAD)], preserve_index=False)
            pq.write_table(canonical(tbl), os.path.join(odir, f"{t}.parquet"))
        open(done, "w").close()
    return {
        os.path.basename(p)[: -len(".parquet")]: pq.read_table(p)
        for p in sorted(glob.glob(os.path.join(odir, "*.parquet")))
    }


def lake_state(table_path: str):
    """A table's live rows straight from its latest manifest's files,
    LWW-resolved by DuckDB — independent of the engine's read path."""
    import duckdb

    mdir = os.path.join(table_path, "_manifests")
    latest = sorted(n for n in os.listdir(mdir) if n.startswith("manifest-"))[-1]
    with open(os.path.join(mdir, latest)) as f:
        m = json.load(f)
    files = [
        os.path.join(table_path, e["path"])
        for b in m["buckets"].values()
        for e in b.get("base", []) + b.get("delta", [])
    ]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', WORK)}'")
        con.execute("SET threads=1")
        if not files:
            return canonical(_payload_schema().empty_table())
        tbl = con.execute(
            """
            SELECT doc_id, tokens, n_tok, source FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY _lsn DESC) rn
              FROM read_parquet(?, union_by_name=true, hive_partitioning=false)
            ) WHERE rn = 1 AND NOT coalesce(_deleted, false)
            """,
            [files],
        ).arrow()
    finally:
        con.close()
    return canonical(tbl)


def warehouse_matches(warehouse: str, oracle: dict) -> "list[str]":
    """Tables whose final state differs from the oracle (empty = all equal)."""
    from concurrent.futures import ThreadPoolExecutor

    def differs(t):
        path = os.path.join(warehouse, t)
        return not os.path.isdir(os.path.join(path, "_manifests")) or not lake_state(path).equals(oracle[t])

    with ThreadPoolExecutor(max_workers=4) as ex:
        flags = list(ex.map(differs, sorted(oracle)))
    return [t for t, bad in zip(sorted(oracle), flags) if bad]


def read_lineage(warehouse: str) -> list[dict]:
    p = os.path.join(warehouse, "_lineage", "lineage.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def batch_commit_times(lineage: list[dict]) -> "tuple[dict, set]":
    """Per epoch: when its last ``cdc_apply`` record was emitted (the
    moment the batch's rows are committed), and the epochs that fell
    back off the one-job fast path."""
    done: dict[int, float] = {}
    fellback = set()
    for r in lineage:
        if r.get("kind") == "cdc_apply":
            e = int(r["epoch"])
            done[e] = max(done.get(e, 0.0), float(r["emitted_at"]))
        elif r.get("kind") == "fast_path_fallback":
            fellback.add(int(r["epoch"]))
    return done, fellback


def files_by_batch(checkpoint: str) -> "dict[str, int]":
    """Feed file basename → streaming batch id, from the file source's
    per-batch log in the checkpoint (compacted logs included)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out
