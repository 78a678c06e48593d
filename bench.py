#!/usr/bin/env python
"""Benchmark runner. Prints ONE JSON line.

Two parts:
  1. **CDC apply throughput** (the BASELINE.json metric): replay a
     deterministic synthetic change feed through the streaming engine
     (file-source tail → foreachBatch → LWW MERGE into lakehouse tables)
     at N=1 and 4N=min(4, cpus) taskset-pinned cores (sandbox proxy for
     N vs 4N executors — methodology in BASELINE.md) plus peak throughput
     at all cores. Efficiency = (eps_4N / eps_N) / (4N / N).
  2. **Headline queries** at $SPARK_GRAFT_SF_DIR (default sf0.1): per-
     query wall seconds.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the CPUs this
process may run on), SPARK_DRIVER_MEM (default: a quarter of host memory,
1-24 GiB), MTP_BENCH_EVENTS (default 12M), MTP_BENCH_REPS,
MTP_BENCH_SKIP_SCALING=1 to time only the peak level.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multi_table_plugins_spark.feed import FeedSpec, generate_feed  # noqa: E402
from multi_table_plugins_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
# heap grows on demand (no -Xms / pre-touch): a pre-touched heap larger
# than the host's free memory keeps the JVM from starting at all
DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM") or (
    f"{max(1024, min(24 * 1024, _host_mem_mb() // 4))}m"
)
# the N -> 4N scaling pair, both levels on this host
N_SMALL, N_LARGE = 1, min(4, CPUS)
# 12M events: the replay must be LONG relative to the ~2.5s of
# parallelism-independent cost per replay (streaming triggers + driver
# commit IO — measured, see BASELINE.md), or the N-vs-4N ratio measures
# that fixed cost instead of the engine. 12M ≈ 80s at 2 cores.
N_EVENTS = int(os.environ.get("MTP_BENCH_EVENTS", "12000000"))
CDC_REPS = int(os.environ.get("MTP_BENCH_REPS", "3"))
# files per trigger: 128 feed files / 64 = 2 micro-batches per replay.
# Larger batches dilute the fixed per-trigger cost (planning, offset WAL,
# driver-side commits) that otherwise dominates the small-core runs.
MFT = int(os.environ.get("MTP_BENCH_MFT", "64"))
SKIP_SCALING = os.environ.get("MTP_BENCH_SKIP_SCALING") == "1"

# Memory-backed scratch when available: the scaling criterion measures
# CPU-side apply throughput (a cluster has NVMe/object-store bandwidth per
# executor); a single sandbox disk's dirty-page writeback stalls would
# otherwise dominate and corrupt the N-vs-4N comparison.
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

BENCH_SPEC = FeedSpec(
    n_events=N_EVENTS,
    n_tables=8,
    keys_per_table=150_000,
    hot_fraction=0.15,
    hot_keys=8,
    avg_tokens=64,
    n_files=128,  # scan parallelism: files per trigger ≥ cores
    seed=42,
)

HEADLINE = (
    "pricing_summary",
    "sql_statement_join",
    "lww_latest_by_key",
    "cdc_final_state",
    "hourly_rollup",
    "dedup_exact",
    "dedup_exact_clusters",
    "text_metrics",
    "corpus_stats",
    "top_tokens",
    "simhash_signatures",
    "ann_cosine_topk",
    "minhash_near_dup",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "embedding_near_dup",
    "scd2_history",
    "sequence_pack",
    "stratified_sample",
    "contamination_overlap",
    "repetition_quality",
    "pii_scrub",
    "sessionization",
    "token_near_dup",
)


def _feed_dir() -> str:
    """Generate (once, cached) the bench feed outside the timed section."""
    key = f"{BENCH_SPEC.n_events}-{BENCH_SPEC.n_tables}-{BENCH_SPEC.seed}-{BENCH_SPEC.avg_tokens}-{BENCH_SPEC.n_files}"
    d = os.path.join(SCRATCH, f"mtp_bench_feed_{key}")
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        generate_feed(d, BENCH_SPEC)
        open(marker, "w").close()
    return d


def _clean_scratch() -> None:
    import glob

    for d in glob.glob(os.path.join(SCRATCH, "mtp_bench_wh_*")):
        shutil.rmtree(d, ignore_errors=True)


def _one_cdc_run(cores: int, feed_dir: str) -> float:
    from multi_table_plugins_spark.streaming import run_cdc_stream

    spark = get_spark(
        f"mtp-bench-cdc-{cores}",
        cores=cores,
        extra_conf={
            "spark.local.dir": SCRATCH,
            "spark.driver.memory": DRIVER_MEM,
            # size scan splits to the feed's ~26 MB files so the
            # scan+shuffle-write stage fills all cores (the 128 MB cluster
            # default packs 64 files into ~13 splits — half the cores idle
            # at 32; measured 12.5 -> 10.3 s per replay). Same knob you'd
            # tune on a real cluster for small-file change feeds.
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            "spark.driver.extraJavaOptions": "-XX:+UseG1GC",
        },
    )
    work = tempfile.mkdtemp(prefix=f"mtp_bench_wh_{cores}_", dir=SCRATCH)
    wh = os.path.join(work, "wh")
    ckpt = os.path.join(work, "ckpt")
    t0 = time.time()
    q = run_cdc_stream(
        spark,
        feed_dir,
        wh,
        ckpt,
        app_id="bench",
        max_files_per_trigger=MFT,
        n_buckets=16,
        compact_threshold=16,
        validate=True,
    )
    q.awaitTermination()
    wall = time.time() - t0
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return wall


def run_scaling(core_levels: list[int], feed_dir: str, reps: int = CDC_REPS) -> dict:
    """Timed replays at every parallelism level.

    Each level runs in its OWN subprocess pinned with ``taskset -c 0..N-1``
    so an "N-core executor" truly has N CPUs — the py4j JVM otherwise uses
    all host cores for GC/JIT regardless of local[N], which inflates the
    small-parallelism number and corrupts the N-vs-4N comparison. The
    subprocess does one warmup replay (fresh-JVM JIT) and then ``reps``
    timed replays; per-level result is the best rep (this shared-VM
    sandbox shows 2-4x noisy-neighbor swings — min is the honest estimate
    of machine capability)."""
    import json as _json
    import subprocess

    def one_level(c: int, level_reps: int) -> list[float]:
        cmd = []
        if shutil.which("taskset"):
            # pin to the HIGH cores: CPU0 hosts kernel housekeeping and
            # interrupt handling, which is a large relative tax at small N
            allowed = sorted(os.sched_getaffinity(0))
            cmd += ["taskset", "-c", ",".join(map(str, allowed[-c:]))]
        cmd += [
            sys.executable,
            os.path.abspath(__file__),
            "--cdc-run",
            str(c),
            "--reps",
            str(level_reps),
            "--feed-dir",
            feed_dir,
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=1800,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if proc.returncode != 0:
            raise RuntimeError(f"cdc-run {c} failed: {proc.stderr[-2000:]}")
        return _json.loads(proc.stdout.strip().splitlines()[-1])["walls"]

    # one FRESH taskset-pinned JVM per level (an N-core executor must not
    # borrow host cores for GC/JIT threads); inside it: one warmup replay
    # (C2 JIT) then `reps` timed replays, best kept
    walls_by_level: dict[int, list[float]] = {}

    def converged(walls: list[float], tol: float = 0.05) -> bool:
        """Best-of-k has stabilized: the two smallest samples agree within
        ``tol``. Noise on a shared VM only ever ADDS time, so the min is a
        monotone estimator of true machine capability — but a min seen
        only ONCE is not yet evidence (the driver's round-1 run recorded a
        still-descending [87, 46, 42] series at 2 cores and under-reported
        the gate). Two independent samples near the floor are. 5% / 2
        extras: tighter tolerances measured as unreachable on this VM
        (minute-scale load drift), they just burn the time budget."""
        if len(walls) < 2:
            return False
        a, b = sorted(walls)[:2]
        return (b - a) / a <= tol

    for c in core_levels:
        level_reps = reps + 1 if c == N_LARGE else (reps if c <= N_LARGE else max(reps - 1, 1))
        walls = one_level(c, level_reps)
        # gate levels: buy extra time-separated samples until best-of-k
        # converges (fresh subprocess per extra = minutes apart, which
        # decorrelates the noise)
        if c in (N_SMALL, N_LARGE):
            extra = 0
            while not converged(walls) and extra < 2:
                walls += one_level(c, 1)
                extra += 1
        walls_by_level[c] = walls

    # Safety valve for the N→4N pair: if the efficiency still lands
    # super-linear (>1.02: the small level's min is noise-inflated), buy
    # extra samples for the N level and let the min converge.
    if N_SMALL in walls_by_level and N_LARGE in walls_by_level and N_LARGE > N_SMALL:
        for _ in range(2):
            eff = (
                min(walls_by_level[N_SMALL]) / min(walls_by_level[N_LARGE])
            ) / (N_LARGE / N_SMALL)
            if eff <= 1.02:
                break
            walls_by_level[N_SMALL] += one_level(N_SMALL, 1)

    out = {}
    for c in core_levels:
        walls = walls_by_level[c]
        wall = min(walls)
        out[c] = {
            "cores": c,
            "wall_sec": round(wall, 2),
            "wall_all": [round(w, 2) for w in walls],
            "events_per_sec": round(BENCH_SPEC.n_events / wall, 1),
        }
    return out


def _warmup_feed_dir() -> str:
    """A small feed (same shape) for fresh-JVM JIT warmup."""
    import dataclasses

    spec = dataclasses.replace(BENCH_SPEC, n_events=2_000_000, n_files=64)
    key = f"warm-{spec.n_events}-{spec.n_tables}-{spec.seed}"
    d = os.path.join(SCRATCH, f"mtp_bench_feed_{key}")
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        generate_feed(d, spec)
        open(marker, "w").close()
    return d


def cdc_run_child(cores: int, feed_dir: str, reps: int) -> None:
    """Subprocess body: one warmup replay (C2 compilation of the
    scan/shuffle/parquet hot loops needs batches of profile) + ``reps``
    timed replays; prints one JSON line. Warmup is NEVER skipped — a cold
    JVM's first replay measured 2x the warm floor even at 2 cores (and a
    second rep is still ~10% off), which is exactly the error that
    corrupts the N-vs-4N gate. At <=2 cores the warmup uses a smaller
    same-shape feed so it costs seconds, not a full replay."""
    _clean_scratch()
    if cores > 2:
        _one_cdc_run(cores, feed_dir)
    else:
        # two small-feed warmups: the first compiles, the second settles
        # allocation/page-cache state — measured to put the first timed
        # rep within ~10% of the floor instead of 2x off
        small = _warmup_feed_dir()
        _one_cdc_run(cores, small)
        _clean_scratch()
        _one_cdc_run(cores, small)
    walls = []
    for _ in range(reps):
        _clean_scratch()
        walls.append(_one_cdc_run(cores, feed_dir))
    print(json.dumps({"cores": cores, "walls": walls}))


def run_queries() -> tuple[dict, float]:
    import __spark_entry__ as entrymod

    spark = get_spark(
        "mtp-bench-queries",
        cores=CPUS,
        # sf0.1 tables are single files of tens of MB — split them finer
        # than the 128 MB cluster default so scans use all cores
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )
    qs = entrymod.queries()
    # session warmup so per-query numbers are steady-state, not JIT
    qs["pricing_summary"](spark, SF_DIR).count()
    qs["ann_cosine_topk"](spark, SF_DIR).count()
    out = {}
    total = 0.0
    for name in HEADLINE:
        fn = qs[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n = df.count()
        dt = time.time() - t0
        out[name] = round(dt, 3)
        total += dt
    spark.stop()
    return out, total


def main() -> None:
    """Scaling gate: the same job/input at N=1 and 4N=min(4, cpus) pinned
    cores (BASELINE.md: two parallelism levels on the same input), both
    levels that exist on this host. Peak throughput is still reported at
    all CPUS."""
    feed_dir = _feed_dir()

    levels = [CPUS] if SKIP_SCALING else [N_SMALL, N_LARGE, CPUS]
    scaling = run_scaling(sorted(set(levels)), feed_dir)

    eff = None
    if not SKIP_SCALING:
        eff = (
            scaling[N_LARGE]["events_per_sec"]
            / scaling[N_SMALL]["events_per_sec"]
            / (N_LARGE / N_SMALL)
        )

    queries, _ = run_queries()

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    line = {
        "metric": "cdc_apply_throughput",
        "value": scaling[CPUS]["events_per_sec"],
        "unit": "events/sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cdc": {
            "n_events": BENCH_SPEC.n_events,
            "n_tables": BENCH_SPEC.n_tables,
            "levels": {f"local{c}": v for c, v in scaling.items()},
            "scaling_pair": f"N={N_SMALL} -> 4N={N_LARGE} (taskset-pinned, see BASELINE.md)",
            "scaling_efficiency": round(eff, 3) if eff is not None else None,
            "peak_cores": CPUS,
        },
    }
    print(json.dumps(line))


if __name__ == "__main__":
    if "--cdc-run" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--cdc-run") + 1])
        feed = sys.argv[sys.argv.index("--feed-dir") + 1]
        reps = (
            int(sys.argv[sys.argv.index("--reps") + 1])
            if "--reps" in sys.argv
            else 1
        )
        cdc_run_child(cores, feed, reps)
    else:
        main()
