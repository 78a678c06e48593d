#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a base revision against this checkout.

    python3 tools/perf_ab.py BASE_REV --workload cdc_trickle --seeds 1501-1510
    python3 tools/perf_ab.py --report runs.jsonl    # table of saved runs

``BASE_REV``'s committed files are exported (``git archive``) to a
directory of their own, the way a fresh checkout of that revision would
run; the change side is this checkout's working tree. Per seed, both
sides run ``perfbench/run.py`` once each, in fresh processes, and the side
that goes first alternates from seed to seed, so drift on the host falls
on both sides alike. Every run is appended to ``--out`` as it finishes (a
JSON line: side, workload, seed, the side that ran first, correct,
failed, steal and every metric the run printed), and at the end one table per workload gives, for each
metric, the parent's median [q1, q3] (IQR), the change's median [q1, q3],
in how many pairs the change was better, the ratio of medians and the
median of the per-pair ratios.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a metric line of perfbench/run.py's stdout: two-space indent, name,
#: value, unit
_METRIC = re.compile(r"^  (\S+)\s+(\S+) (\S+)$")
_STEAL = re.compile(r"steal ([\d.]+)%")
#: the trickle's note on its timed triggers: ``trigger MIN .. MAX s``
_TRIGGERS = re.compile(r"trigger ([\d.]+) \.\. ([\d.]+) s")
#: ungated metrics reported beside the gated ones by default;
#: ``trigger_max_s`` is the trickle's largest timed trigger, the one of
#: its compaction batch
EXTRA = ("trigger_p50_s", "freshness_p50_s", "trigger_max_s")


def _seeds(spec: str) -> "list[int]":
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export_rev(rev: str, workdir: str) -> str:
    """The committed files of ``rev`` in ``workdir/base-<sha>`` (reused
    if present)."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short=12", rev],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    dst = os.path.join(workdir, f"base-{sha}")
    if not os.path.isdir(dst):
        with tempfile.TemporaryFile() as tar:
            subprocess.run(["git", "-C", ROOT, "archive", sha], check=True, stdout=tar)
            tar.seek(0)
            with tarfile.open(fileobj=tar) as t:
                t.extractall(dst + ".part", filter="data")
        os.rename(dst + ".part", dst)
    return dst


def parse_run(stdout: str) -> dict:
    """Metrics, steal and verdict of one ``perfbench/run.py`` output;
    ``trigger_max_s`` comes from the trickle's trigger note."""
    lines = stdout.strip().splitlines()
    last = json.loads(lines[-1])
    metrics = {}
    steal = None
    for line in lines[:-1]:
        if line.startswith("  note:"):
            hit = _STEAL.search(line)
            if hit:
                steal = float(hit.group(1))
            hit = _TRIGGERS.search(line)
            if hit:
                metrics["trigger_max_s"] = float(hit.group(2))
            continue
        hit = _METRIC.match(line)
        if hit:
            metrics[hit.group(1)] = float(hit.group(2))
    for name, m in last["metrics"].items():
        metrics.setdefault(name, m["value"])
    return {"correct": last["correct"], "failed": last["failed"],
            "steal_pct": steal, "metrics": metrics}


def run_one(root: str, workload: str, seed: int, trace: int) -> dict:
    """One ``perfbench/run.py`` run of ``root`` for BENCHMARK.json's run
    length."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(_bench()["run_seconds"]), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        return {"correct": False, "failed": None, "steal_pct": None, "metrics": {},
                "error": proc.stderr.strip().splitlines()[-1:]}
    return parse_run(proc.stdout)


def _quartiles(xs: "list[float]") -> "tuple[float, float, float]":
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def table(runs: "list[dict]", metrics: "list[str]") -> str:
    """One markdown row per (workload, metric) over the seeds where both
    sides produced the metric."""
    out = [
        "| workload (seeds) | metric | pairs | parent median [q1, q3] (IQR) "
        "| change median [q1, q3] | change better | ratio | paired |",
        "|---|---|---|---|---|---|---|---|",
    ]
    bench = _bench()
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    by = {}
    for r in runs:
        by.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r
    for w, seeds in sorted(by.items()):
        for name in metrics:
            got = {
                seed: (s["base"]["metrics"][name], s["change"]["metrics"][name])
                for seed, s in sorted(seeds.items())
                if all(name in s.get(k, {}).get("metrics", {}) for k in ("base", "change"))
            }
            if not got:
                continue
            pairs = list(got.values())
            a, b = [p[0] for p in pairs], [p[1] for p in pairs]
            (aq1, am, aq3), (bq1, bm, bq3) = _quartiles(a), _quartiles(b)
            # BENCHMARK.json's direction; an unlisted metric: lower is better
            lower = better.get(name, "lower") == "lower"
            wins = sum((y < x) if lower else (y > x) for x, y in pairs)
            ratio = bm / am if am else float("nan")
            paired = statistics.median(y / x for x, y in pairs if x) if any(a) else float("nan")
            out.append(
                f"| {w} ({min(got)}–{max(got)}) | {name} | {len(pairs)} "
                f"| {am:.4g} [{aq1:.4g}, {aq3:.4g}] ({aq3 - aq1:.3g}) "
                f"| {bm:.4g} [{bq1:.4g}, {bq3:.4g}] | {wins}/{len(pairs)} "
                f"| {ratio:.3f} | {paired:.3f} |"
            )
    ok = [r for r in runs if r["correct"] and r["failed"] == 0]
    steals = [r["steal_pct"] for r in runs if r.get("steal_pct") is not None]
    out.append("")
    out.append(
        f"{len(ok)}/{len(runs)} runs correct with 0 failed operations; "
        f"steal at most {max(steals, default=0):.1f}%."
    )
    return "\n".join(out)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base_rev", nargs="?", help="revision to compare against")
    p.add_argument("--workload", action="append",
                   help="workload to run (repeatable; default both)")
    p.add_argument("--seeds", default="1-5", help="e.g. 1501-1510 or 1,4,9")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--metric", action="append",
                   help="metric to tabulate (repeatable; default the gated "
                        "ones and " + ", ".join(EXTRA) + ")")
    p.add_argument("--workdir", default=tempfile.gettempdir(),
                   help="where the base revision is exported")
    p.add_argument("--out", help="append each run here as a JSON line")
    p.add_argument("--report", help="print the table of these saved runs only")
    args = p.parse_args(argv)
    metrics = args.metric or [m["name"] for m in _bench()["end_to_end"]] + list(EXTRA)
    if args.report:
        with open(args.report) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        print(table(runs, metrics))
        return 0
    if not args.base_rev:
        p.error("BASE_REV is required unless --report is given")
    roots = {"base": export_rev(args.base_rev, args.workdir), "change": ROOT}
    runs = []
    for i, seed in enumerate(_seeds(args.seeds)):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for w in args.workload or ["cdc_bulk", "cdc_trickle"]:
            for side in order:
                r = run_one(roots[side], w, seed, args.trace)
                r.update(side=side, workload=w, seed=seed, first=order[0])
                runs.append(r)
                print(f"{w} seed {seed} {side}: correct={r['correct']} "
                      + " ".join(f"{m}={r['metrics'][m]:.4g}"
                                 for m in metrics if m in r["metrics"]),
                      file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
    print(table(runs, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
