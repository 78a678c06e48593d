"""The workloads of BENCHMARK.json. Each returns a :class:`Result`: the gated
end-to-end metrics, the named metrics of its own, operation counts, and
what the traced run needs to derive per-layer metrics.

Every input comes from the seed; the engine only sees generated files.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time

from . import common, curation
from .stats import freshness, lateness, median, percentile_report, scaling_efficiency


@dataclasses.dataclass
class Result:
    e2e: dict                      # gated metrics (the BENCHMARK.json names)
    named: dict                    # the workload's own metric names
    attempted: int = 0
    failed: int = 0
    notes: list = dataclasses.field(default_factory=list)
    # for the traced run
    windows: list = dataclasses.field(default_factory=list)  # timed (start, end)
    batches: int = 0
    progress: list = dataclasses.field(default_factory=list)
    warehouses: list = dataclasses.field(default_factory=list)
    fast_path_batches: int = 0
    catalyst: dict = dataclasses.field(default_factory=dict)  # leaf -> phase ms
    cores: int = 1
    event_log: "str | None" = None
    spark: object = None
    n1: "tuple[float, float] | None" = None   # (events/s at N = 1, efficiency)

    def metric(self, name: str, value: float, unit: str, gated: bool = False) -> None:
        (self.e2e if gated else self.named)[name] = {"value": value, "unit": unit}

    def fail(self, n: int, why: str) -> None:
        """Count ``n`` failed operations, never more than were attempted
        (``ops_failed_ratio`` has ``attempted`` as its base)."""
        self.failed = min(self.attempted, self.failed + n)
        self.notes.append(why)


def _spec(**kw):
    from multi_table_plugins_spark.feed import FeedSpec

    return FeedSpec(**kw)


def _key(name: str, spec) -> str:
    return f"{name}-s{spec.seed}-e{spec.n_events}-t{spec.n_tables}-k{spec.keys_per_table}-f{spec.n_files}"


def _stream_errors(q) -> "str | None":
    e = q.exception()
    return None if e is None else str(e)[:300]


# --- cdc_bulk ----------------------------------------------------------------
BULK = dict(n_events=160_000, n_tables=8, keys_per_table=20_000,
            hot_fraction=0.15, hot_keys=8, n_files=16)
BULK_FILES_PER_TRIGGER = 8          # 2 micro-batches per replay
#: timed replays: one per this many of --seconds, at least 3. A fixed
#: count rather than "until the time is up": the JIT is still compiling
#: during these replays, so each replay's cost depends on how many ran
#: before it, and a count that varied with host speed would move the
#: median with it.
BULK_SECONDS_PER_REPLAY = 5.0
BULK_MIN_REPLAYS = 3
#: whole-feed replays before timing, so both micro-batch paths (first
#: write of a table, merge into an existing one) are compiled: after two,
#: the CPU cost of the timed replays still fell by a quarter from first
#: to fourth; after four it is flat to within about a tenth
BULK_WARM_REPLAYS = 4
BULK_APPLY = dict(n_buckets=16, compact_threshold=16)  # compaction never fires


def _replay(spark, run, feed_dir, tag, apply_kw, max_files):
    """One closed-loop available-now replay into a fresh warehouse."""
    from multi_table_plugins_spark.streaming import cdc_pipeline

    wh, ck = os.path.join(run.path, tag, "wh"), os.path.join(run.path, tag, "ck")
    t0, cpu0 = time.time(), common.tree_cpu_s()
    q = cdc_pipeline.run_cdc_stream(
        spark, feed_dir, wh, ck, app_id="perfbench",
        max_files_per_trigger=max_files, available_now=True, **apply_kw,
    )
    q.awaitTermination()
    return q, wh, time.time() - t0, common.tree_cpu_s() - cpu0


def run_bulk(args, run, tracer=None) -> Result:
    spec = _spec(seed=args.seed, **BULK)
    kdir, _, gen_s = common.feed_dir_for(_key("bulk", spec), spec)
    t_or = time.time()
    oracle = common.oracle_state(kdir)
    gen_s += time.time() - t_or
    feed = os.path.join(kdir, "feed")

    cpus = common.host_cpus()
    n4 = min(4, cpus)
    res = Result(e2e={}, named={}, cores=n4)
    setup = 0.0

    def level(cores, n_timed, n_warm):
        """Warm-up replays (set-up), then ``n_timed`` timed replays of the
        feed into fresh warehouses."""
        nonlocal setup
        t = time.time()
        spark = common.start_session(run, cores, event_log=tracer is not None)
        for i in range(n_warm):
            q, *_ = _replay(spark, run, feed, f"warm{cores}-{i}", BULK_APPLY, BULK_FILES_PER_TRIGGER)
            if _stream_errors(q):
                raise RuntimeError(f"warm-up replay failed: {_stream_errors(q)}")
        setup += time.time() - t
        res.notes.append(f"local[{cores}] set-up {time.time() - t:.2f} s")
        rates, cpus, trig = [], [], []
        for reps in range(n_timed):
            tag = f"r{cores}-{reps}"
            q, wh, wall, cpu = _replay(spark, run, feed, tag, BULK_APPLY, BULK_FILES_PER_TRIGGER)
            if cores == n4:
                res.windows.append((time.time() - wall, time.time()))
            prog = [p for p in q.recentProgress if p["numInputRows"]]
            n_ops = len(prog) or 1
            res.attempted += n_ops
            err = _stream_errors(q)
            _, fellback = common.batch_commit_times(common.read_lineage(wh))
            problems = []  # (operations, why)
            if err:
                problems.append((n_ops, f"stream failed: {err}"))
            if fellback:
                problems.append((len(fellback), f"fast-path fallback in epochs {sorted(fellback)}"))
            bad = common.warehouse_matches(wh, oracle)
            if bad:
                problems.append((1, f"final state differs from oracle in {bad}"))
            if problems:
                # one batch may fail for several reasons: at most n_ops fail
                res.fail(min(n_ops, sum(n for n, _ in problems)),
                         f"{tag}: " + "; ".join(why for _, why in problems))
            rates.append(spec.n_events / wall)
            cpus.append(cpu * 1e6 / spec.n_events)
            trig += [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
            if cores == n4:
                res.progress += prog
                res.warehouses.append(wh)
                res.batches += len(prog)
                res.fast_path_batches += len(prog) - len(fellback)
        res.notes.append(f"local[{cores}] replays: " + ", ".join(
            f"{spec.n_events / r:.2f} s ({c * spec.n_events / 1e6:.2f} cpu-s)" for r, c in zip(rates, cpus)))
        res.notes.append(f"local[{cores}] triggers: " + ", ".join(f"{x:.2f}" for x in trig) + " s")
        return spark, rates, cpus, trig

    n_timed = max(BULK_MIN_REPLAYS, round(args.seconds / BULK_SECONDS_PER_REPLAY))
    spark, rates4, cpus4, trig4 = level(n4, n_timed, BULK_WARM_REPLAYS)
    res.event_log = run.sub("eventlog") if tracer is not None else None
    rate4 = median(rates4)
    res.metric("setup_s", setup, "s", gated=True)
    res.metric("cpu_ms_per_kevent", median(cpus4), "ms", gated=True)
    res.metric("apply_events_per_s", rate4, "events/s")
    res.metric("batch_apply_p50_s", median(trig4), "s")
    if tracer is not None:
        # N = 1 (traced run only — the untraced run's time budget holds
        # one level): same JVM with its JIT warm, a new local[1]
        # context, every thread of the process tree pinned to one CPU
        common.stop_session(spark, kill_jvm=False)
        allowed = os.sched_getaffinity(0)
        common.pin_process_tree({max(allowed)})
        # the JIT is warm: one replay warms the new context
        try:
            spark, rates1, _, _ = level(1, 1, 1)
        finally:
            common.pin_process_tree(allowed)
        rate1 = median(rates1)
        res.n1 = (rate1, scaling_efficiency(rate4, rate1, n4))
        res.metric("apply_events_per_s_n1", rate1, "events/s")
        res.metric("scaling_efficiency", res.n1[1], "ratio")
    res.spark = spark
    res.metric("feedgen_s", gen_s, "s")
    res.metric("events_per_replay", spec.n_events, "count")
    return res


# --- cdc_trickle -------------------------------------------------------------
#: Offered load, fixed and independent of --seconds: one file of 2000
#: events every 2.5 s (800 events/s). On a quiet 4-vCPU host a plain
#: micro-batch of one such file triggers in about 1.0 s and a batch that
#: also compacts every table in about 3 s, so the mean trigger (1.5 s)
#: leaves the stream idle 40% of the time and nearly every file gets a
#: batch of its own; only a file due during a compaction batch waits.
TRICKLE_EVENTS_PER_FILE = 2_000
TRICKLE_INTERVAL_S = 2.5
TRICKLE_MIN_FILES = 6
TRICKLE_WARM_FILES = 4               # one compaction cycle before timing
TRICKLE_SHAPE = dict(n_tables=4, keys_per_table=500, hot_fraction=0.15, hot_keys=8)
#: every bucket gets a delta from every batch, so every 4th batch
#: compacts all four tables: a quarter of the batches
TRICKLE_APPLY = dict(n_buckets=4, compact_threshold=4)


def run_trickle(args, run, tracer=None) -> Result:
    interval = TRICKLE_INTERVAL_S
    n_timed = max(TRICKLE_MIN_FILES, round(args.seconds / interval))
    n_warm = TRICKLE_WARM_FILES
    n_files = n_warm + n_timed
    spec = _spec(seed=args.seed, n_events=n_files * TRICKLE_EVENTS_PER_FILE,
                 n_files=n_files, **TRICKLE_SHAPE)
    kdir, files, gen_s = common.feed_dir_for(_key("trickle", spec), spec)
    t_or = time.time()
    oracle = common.oracle_state(kdir)
    gen_s += time.time() - t_or
    staged = run.sub("staged")
    tailed = run.sub("feed")
    for f in files:
        os.link(f, os.path.join(staged, os.path.basename(f)))
    names = [os.path.basename(f) for f in files]

    def publish(name):
        os.rename(os.path.join(staged, name), os.path.join(tailed, name))

    from multi_table_plugins_spark.streaming import cdc_pipeline

    res = Result(e2e={}, named={}, cores=min(4, common.host_cpus()))
    wh, ck = run.sub("wh"), os.path.join(run.path, "ck")
    t_setup = time.time()
    spark = common.start_session(run, res.cores, event_log=tracer is not None)
    res.spark = spark
    t_session = time.time() - t_setup

    def committed():
        done, _ = common.batch_commit_times(common.read_lineage(wh))
        fb = common.files_by_batch(ck)
        return {f: done[b] for f, b in fb.items() if b in done}

    def wait_for(want, timeout):
        end = time.time() + timeout
        while time.time() < end:
            got = committed()
            if all(n in got for n in want):
                return got
            if q.exception() is not None:
                break
            time.sleep(0.05)
        return committed()

    # warm-up (set-up): one file per batch, each waited for
    publish(names[0])
    q = cdc_pipeline.run_cdc_stream(
        spark, tailed, wh, ck, app_id="perfbench", available_now=False,
        **TRICKLE_APPLY,
    )
    wait_for(names[:1], 60)
    for j in range(1, n_warm):
        publish(names[j])
        wait_for(names[j:j + 1], 60)
    setup = time.time() - t_setup
    warm = [p["durationMs"]["triggerExecution"] / 1000 for p in q.recentProgress if p["numInputRows"]]
    res.notes.append(
        f"set-up: session {t_session:.2f} s, warm-up triggers "
        + ", ".join(f"{x:.2f}" for x in warm) + " s"
    )

    timed = names[n_warm:]
    cpu0 = common.tree_cpu_s()
    t0 = time.time() + 0.05
    due = {n: t0 + j * interval for j, n in enumerate(timed)}
    published: dict = {}

    def generator():
        for n in timed:
            delay = due[n] - time.time()
            if delay > 0:
                time.sleep(delay)
            publish(n)
            published[n] = time.time()

    gen = threading.Thread(target=generator, name="perfbench-generator")
    gen.start()
    gen.join()
    got = wait_for(timed, 60)
    cpu = common.tree_cpu_s() - cpu0
    t1 = max([got[n] for n in timed if n in got] or [time.time()])
    err = _stream_errors(q)
    q.stop()

    prog = [p for p in q.recentProgress if p["numInputRows"]]
    done, fellback = common.batch_commit_times(common.read_lineage(wh))
    fb = common.files_by_batch(ck)
    timed_batches = {fb[n] for n in timed if n in fb}
    res.attempted = max(1, len(timed_batches))
    missing = [n for n in timed if n not in got]
    if err:
        res.fail(1, f"stream failed: {err}")
    if missing:
        res.fail(len({fb.get(n, -1) for n in missing}), f"{len(missing)} files never committed")
    if fellback & timed_batches:
        res.fail(len(fellback & timed_batches), f"fast-path fallback in epochs {sorted(fellback)}")
    bad = common.warehouse_matches(wh, oracle)
    if bad:
        res.fail(1, f"final state differs from oracle in {bad}")
    if tracer is not None:
        # the traced run also measures the query layer over this warehouse
        curation.run_phase(spark, tracer, res, wh, oracle, args.seed, run.path)

    fresh = list(freshness(due, got).values())
    if not fresh:
        raise RuntimeError(f"no timed feed file was committed ({'; '.join(res.notes)})")
    late = lateness(due, published)
    events = TRICKLE_EVENTS_PER_FILE * (len(timed) - len(missing))
    res.windows = [(t0, t1)]
    res.progress = [p for p in prog if p["batchId"] in timed_batches]
    res.batches = len(timed_batches)
    res.fast_path_batches = len(timed_batches - fellback)
    res.warehouses = [wh]
    res.event_log = run.sub("eventlog") if tracer is not None else None
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in res.progress]
    res.notes.append("freshness " + ", ".join(f"{x:.2f}" for x in fresh) + " s")
    res.notes.append(
        f"{len(timed)} timed files in {res.batches} batches, "
        f"{sum(p['numInputRows'] for p in res.progress) / max(1, len(res.progress)):.0f} rows/batch, "
        f"trigger {min(trig or [0]):.2f} .. {max(trig or [0]):.2f} s"
    )
    res.metric("setup_s", setup, "s", gated=True)
    res.metric("cpu_ms_per_kevent", cpu * 1e6 / max(1, events), "ms", gated=True)
    res.named.update(percentile_report(fresh, "freshness", "s", 90))
    res.metric("generator_late_p50_s", median(late) if late else 0.0, "s")
    res.metric("generator_late_max_s", max(late) if late else 0.0, "s")
    res.metric("offered_events_per_s", TRICKLE_EVENTS_PER_FILE / interval, "events/s")
    res.metric("committed_events_per_s", events / (t1 - t0), "events/s")
    res.metric("trigger_p50_s", median(trig) if trig else 0.0, "s")
    res.metric("feedgen_s", gen_s, "s")
    return res


WORKLOADS = {
    "cdc_bulk": run_bulk,
    "cdc_trickle": run_trickle,
}
