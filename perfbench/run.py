#!/usr/bin/env python3
"""Benchmark of the multi-table CDC engine, sized from the host it runs on.

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 20 --trace 0

Workloads: ``cdc_bulk``, ``cdc_trickle`` (see perfbench/README.md). ``--trace 0`` measures the gated end-to-end
metrics; ``--trace 1`` wraps the engine's public entry points and reports
the per-layer metrics instead (the spans are written to
``perfbench/_work/spans/<workload>-s<seed>.jsonl``). Human-readable lines (the workload's own
metric names, operation failures, notes) go first; the last line of
stdout is one JSON object ``{correct, attempted, failed, metrics}``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

#: a run must end inside three minutes; past this it aborts
DEADLINE_S = 175


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpu_times() -> "list[int]":
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = _args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    try:
        import multi_table_plugins_spark  # the engine under test
    except ImportError as e:
        print(f"perfbench: engine package not found beside perfbench/: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(multi_table_plugins_spark.__file__)) != os.path.dirname(here):
        print(f"perfbench: imported an engine from outside this checkout: "
              f"{multi_table_plugins_spark.__file__}", file=sys.stderr)
        return 2
    from perfbench import common, layers
    from perfbench.stats import failed_ratio
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    run = common.RunDir()
    cpu0 = _cpu_times()
    tracer = Tracer() if args.trace else None
    res = None
    try:
        if tracer is not None:
            tracer.install()
        res = WORKLOADS[args.workload](args, run, tracer)
        if res.spark is not None:
            common.stop_session(res.spark)
            res.spark = None
        if tracer is not None:
            tracer.uninstall()
            values = layers.compute(tracer, res, tracer.per_span_overhead_s())
            metrics = {
                name: {"value": values[name], "unit": unit}
                for name, unit, _ in layers.per_layer_names()
            }
            tracer.dump(os.path.join(common.WORK, "spans", f"{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = res.e2e
    finally:
        if res is not None and res.spark is not None:
            common.stop_session(res.spark)
        elif res is None:
            _stop_any_session(common)
        run.close()
        signal.alarm(0)

    named = dict(res.e2e, **res.named)
    named["ops_failed_ratio"] = {"value": failed_ratio(res.failed, res.attempted), "unit": "ratio"}
    named["ops_attempted"] = {"value": res.attempted, "unit": "count"}
    named["ops_failed"] = {"value": res.failed, "unit": "count"}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for name, m in named.items():
        print(f"  {name:36s} {m['value']:.6g} {m['unit']}")
    # steal: time the hypervisor gave this host's CPUs to other guests
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    res.notes.append(
        f"host cpu during run: busy {(sum(d) - d[3] - d[4]) / max(1, sum(d)):.0%}, "
        f"steal {d[7] / max(1, sum(d)):.1%}"
    )
    for note in res.notes:
        print(f"  note: {note}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _stop_any_session(common) -> None:
    """A workload that raised may leave a live session behind."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is not None:
        common.stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())
