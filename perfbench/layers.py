"""Per-layer metrics of the traced run: span self times, streaming
progress, the Spark event log of ``merge_many``'s job and of the query
leaves, and the table manifests the run left behind."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

from .common import ROOT
from .curation import CATALYST_PHASES, MODULES
from .stats import blocking_attribution, median, self_time, union_length
from .trace import FILEIO_METHODS

#: layers the blocking-path attribution charges time to
PATH_LAYERS = (
    "streaming", "session", "cdc_pipeline", "multi_merge", "table",
    "table.compact", "snapshots", "lineage", "fileio",
)


def per_layer_names() -> "list[tuple[str, str, str]]":
    """(name, unit, better) of every per-layer metric, in report order,
    as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"], m["better"]) for m in json.load(f)["per_layer"]]


def _ms_p50(xs) -> float:
    return median(xs) * 1000 if xs else 0.0


def _progress_spans(progress) -> list:
    """(start, end) of each trigger, from the engine's own progress."""
    out = []
    for p in progress:
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = (ts - datetime(1970, 1, 1)).total_seconds()
        out.append((start, start + p["durationMs"]["triggerExecution"] / 1000))
    return out


def _event_log_stages(event_dir: str) -> dict:
    """stage id → {submit, done (s), tasks: [(run_ms, dur_ms)], shuffle_write, spill}."""
    stages: dict = {}
    # Spark 4 writes a directory of rolled files per application
    for path in glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"tasks": [], "shuffle_write": 0, "spill": 0})
                    st["submit"] = info.get("Submission Time", 0) / 1000
                    st["done"] = info.get("Completion Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"tasks": [], "shuffle_write": 0, "spill": 0})
                    tm = ev.get("Task Metrics") or {}
                    ti = ev["Task Info"]
                    st["tasks"].append((tm.get("Executor Run Time", 0), ti["Finish Time"] - ti["Launch Time"]))
                    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return {k: v for k, v in stages.items() if "submit" in v}


def _merge_stage_metrics(stages, merges, cores) -> dict:
    out = {
        "multi_merge.map_stage_s": 0.0, "multi_merge.reduce_stage_s": 0.0,
        "multi_merge.shuffle_write_bytes": 0, "multi_merge.spill_bytes": 0,
        "multi_merge.executor_busy_ratio": 0.0, "multi_merge.reduce_task_skew": 0.0,
    }
    if not stages or not merges:
        return out
    per_batch = []
    busy = wall = 0.0
    skews = []
    for sp in merges:
        mine = [s for s in stages.values() if sp.start <= s["submit"] <= sp.end]
        maps = [s for s in mine if s["shuffle_write"] > 0]
        reds = [s for s in mine if s["shuffle_write"] == 0 and s["tasks"]]
        per_batch.append((
            sum(s["done"] - s["submit"] for s in maps),
            sum(s["done"] - s["submit"] for s in reds),
            sum(s["shuffle_write"] for s in mine),
            sum(s["spill"] for s in mine),
        ))
        for s in mine:
            busy += sum(r for r, _ in s["tasks"]) / 1000
            wall += (s["done"] - s["submit"]) * cores
        for s in reds:
            durs = [d for _, d in s["tasks"]]
            if len(durs) > 1 and median(durs) > 0:
                skews.append(max(durs) / median(durs))
    out["multi_merge.map_stage_s"] = median([b[0] for b in per_batch])
    out["multi_merge.reduce_stage_s"] = median([b[1] for b in per_batch])
    out["multi_merge.shuffle_write_bytes"] = median([b[2] for b in per_batch])
    out["multi_merge.spill_bytes"] = sum(b[3] for b in per_batch)
    out["multi_merge.executor_busy_ratio"] = busy / wall if wall else 0.0
    out["multi_merge.reduce_task_skew"] = median(skews) if skews else 0.0
    return out


def _manifest_bytes(warehouses) -> "tuple[int, int]":
    """(bytes written by compaction, bytes of user deltas committed)
    from the manifest chain of every table in the warehouses."""
    rewritten = user = 0
    for wh in warehouses:
        for mdir in glob.glob(os.path.join(wh, "*", "_manifests")):
            seen: set = set()
            for p in sorted(glob.glob(os.path.join(mdir, "manifest-*.json"))):
                with open(p) as f:
                    m = json.load(f)
                entries = [
                    (kind, e) for b in m["buckets"].values()
                    for kind in ("base", "delta") for e in b.get(kind, [])
                ]
                for kind, e in entries:
                    if e["path"] in seen:
                        continue
                    if m.get("op", "").startswith("compact"):
                        rewritten += e["bytes"]
                    elif kind == "delta":
                        user += e["bytes"]
                seen.update(e["path"] for _, e in entries)
    return rewritten, user


def _delta_files_per_bucket(warehouses) -> float:
    """Delta files a read must merge per bucket, from each table's
    latest manifest."""
    deltas = buckets = 0
    for wh in warehouses:
        for mdir in glob.glob(os.path.join(wh, "*", "_manifests")):
            latest = sorted(glob.glob(os.path.join(mdir, "manifest-*.json")))[-1]
            with open(latest) as f:
                m = json.load(f)
            buckets += len(m["buckets"])
            deltas += sum(len(b.get("delta", [])) for b in m["buckets"].values())
    return deltas / buckets if buckets else 0.0


def _query_metrics(tracer, res, stages) -> dict:
    """The timed pass of the query leaves: per-leaf build + action time,
    their per-module sums, Catalyst phases and the stages they ran."""
    timed = [s for s in tracer.spans if s.name in ("entry.build", "entry.exec")]
    out: dict = {}
    for s in timed:
        key = f"query.{s.attrs['leaf']}_s"
        out[key] = out.get(key, 0.0) + (s.end - s.start)
    for module, leaves in MODULES.items():
        out[module] = sum(out.get(f"query.{leaf}_s", 0.0) for leaf in leaves)
    execs = [s for s in timed if s.name == "entry.exec"]
    out["entry.build_s"] = sum(s.end - s.start for s in timed if s.name == "entry.build")
    out["entry.exec_s"] = sum(s.end - s.start for s in execs)
    for ph in CATALYST_PHASES:
        out[f"catalyst.{ph}_ms"] = sum(c[ph] for c in res.catalyst.values())
    ran = [st for st in stages.values() if any(x.start <= st["submit"] <= x.end for x in execs)]
    out["exec.stages"] = len(ran)
    out["exec.shuffle_bytes"] = sum(st["shuffle_write"] for st in ran)
    return out


def compute(tracer, res, overhead_per_span: float) -> dict:
    """Every per-layer metric for one traced run (0 where the workload
    never enters that layer)."""
    spans = [
        s for s in tracer.spans
        if any(s.end >= t0 and s.start <= t1 for t0, t1 in res.windows)
    ]
    kids: dict = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))

    def by(name):
        return [s for s in spans if s.name == name]

    def selfs(name):
        return [self_time(s.start, s.end, kids.get(s.id, [])) for s in by(name)]

    def durs(name):
        return [s.end - s.start for s in by(name)]

    batches = max(1, res.batches)
    names = [name for name, _, _ in per_layer_names()]
    out: dict = dict.fromkeys(names, 0)
    stages = _event_log_stages(res.event_log) if res.event_log else {}
    sess = [s.end - s.start for s in tracer.spans if s.name == "session.get_spark"]
    out["session.start_s"] = sess[0] if sess else 0.0

    prog = res.progress
    if prog:
        d = [p["durationMs"] for p in prog]
        out["streaming.batches"] = len(prog)
        out["streaming.input_rows_per_batch"] = sum(p["numInputRows"] for p in prog) / len(prog)
        out["streaming.trigger_ms_p50"] = median([x.get("triggerExecution", 0) for x in d])
        out["streaming.wal_commit_ms_p50"] = median([x.get("walCommit", 0) for x in d])
        out["streaming.trigger_overhead_ms_p50"] = median(
            [x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]
        )
    out["apply.self_ms_p50"] = _ms_p50(selfs("cdc.apply_cdc_batch"))
    merges = by("multi_merge.merge_many")
    out["multi_merge.job_ms_p50"] = _ms_p50(selfs("multi_merge.merge_many"))
    out.update(_merge_stage_metrics(stages, merges, res.cores))
    if res.batches:
        out["multi_merge.fast_path_ratio"] = res.fast_path_batches / res.batches

    commits = by("table.commit_delta")
    out["table.commits"] = len(commits)
    out["table.commit_delta_ms_p50"] = _ms_p50(selfs("table.commit_delta"))
    phases = [
        union_length([(c.start, c.end) for c in commits if m.start <= c.start <= m.end])
        for m in merges
    ]
    out["table.commit_phase_ms_p50"] = _ms_p50([p for p in phases if p > 0])
    comps = by("table.compact") + by("table.compact_deltas")
    out["table.compactions"] = len(comps)
    out["table.compact_ms_p50"] = _ms_p50([c.end - c.start for c in comps])
    rewritten, user = _manifest_bytes(res.warehouses)
    out["table.compact_bytes_rewritten_per_user_byte"] = rewritten / user if user else 0.0
    out["snapshots.publish_ms_p50"] = _ms_p50(durs("snapshots.publish_snapshot"))

    fio = [s for s in spans if s.layer == "fileio"]
    out["fileio.calls"] = len(fio)
    for m in FILEIO_METHODS:
        out[f"fileio.calls.{m}"] = sum(1 for s in fio if s.name == f"fileio.{m}")
    out["fileio.busy_ms_per_batch"] = union_length([(s.start, s.end) for s in fio]) * 1000 / batches
    emits = by("lineage.emit")
    out["lineage.records"] = len(emits)
    out["lineage.emit_ms_per_batch"] = sum(s.end - s.start for s in emits) * 1000 / batches
    out["table.manifest_load_ms"] = _ms_p50(durs("table.manifest"))
    # the engine's own reads of the warehouse, after the timed window
    lake = {s.id for s in tracer.spans if s.name == "bench.lake_read"}
    for name, metric in (("table.read", "table.read_plan_ms"), ("table.read_exec", "table.read_exec_ms")):
        out[metric] = _ms_p50([s.end - s.start for s in tracer.spans if s.name == name and s.parent in lake])
    out["table.delta_files_per_bucket"] = _delta_files_per_bucket(res.warehouses)
    out.update(_query_metrics(tracer, res, stages))

    if res.n1 is not None:
        out["scaling.events_per_s_n1"], out["scaling.efficiency"] = res.n1

    # blocking path: every instant of the window charged to one layer
    timeline = [(s.layer, s.start, s.end, s.depth) for s in spans]
    timeline += [("streaming", a, b, -1) for a, b in _progress_spans(prog)]
    wall = unaccounted = 0.0
    for t0, t1 in res.windows:
        charged, rest = blocking_attribution(timeline, t0, t1)
        for layer in PATH_LAYERS:
            out[f"path.{layer}_s"] += charged.get(layer, 0.0)
        wall += t1 - t0
        unaccounted += rest
    out["trace.wall_s"] = wall
    out["trace.unaccounted_s"] = unaccounted
    out["trace.spans"] = len(tracer.spans)
    out["trace.wrapper_overhead_s"] = len(spans) * overhead_per_span
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out
