"""Warehouse-level write-audit-publish (streaming/wap.py).

Contracts: a staged multi-table batch is invisible to main reads, the
change feed, AND the warehouse snapshot log until published; publish
fast-forwards every touched table and pins ONE snapshot (snapshot
readers flip to the whole batch atomically); staging a batch that
CREATES a table leaves the table empty on main until publish; rerunning
stage or publish after a crash is idempotent; a rejected batch
discards cleanly; main advancing independently conflicts the publish.
"""

import builtins
import errno
import json
import os

import pytest
from pyspark.sql import functions as F

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.lakehouse.snapshots import (
    WarehouseSnapshot,
    latest_snapshot,
)
from multi_table_plugins_spark.lakehouse.table import CommitConflict
from multi_table_plugins_spark.streaming import (
    apply_cdc_batch,
    discard_staged_batch,
    publish_staged_batch,
    stage_cdc_batch,
    staged_tables,
)
from multi_table_plugins_spark.lakehouse.fileio import get_fileio

FEED_SCHEMA = (
    "lsn long, table_name string, op string, doc_id string, "
    "tokens array<int>, n_tok int, source string, ts timestamp"
)


def _feed(spark, lo, n, tables=("t0", "t1"), op="I"):
    rows = [
        (
            lo + i,
            tables[i % len(tables)],
            op,
            f"d{(lo + i) % 7}",
            [lo + i, 1],
            2,
            "s",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        [r + ("2024-01-01 00:00:01",) for r in rows],
        "lsn long, table_name string, op string, doc_id string, "
        "tokens array<int>, n_tok int, source string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _state(spark, wh, t, **kw):
    lt = LakeTable(spark, os.path.join(wh, t))
    return {
        (r["doc_id"]): list(r["tokens"]) for r in lt.read(**kw).collect()
    }


@pytest.fixture(params=["fast", "isolated"])
def arm_route(request, fail_next_merge_many):
    """Called right before the staged batch: ``isolated`` makes its
    one-job apply fail once, so the batch lands through the per-table
    fallback."""
    return fail_next_merge_many if request.param == "isolated" else (lambda: None)


def test_stage_audit_publish_with_snapshot(spark, tmp_path, arm_route):
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 12), wh, epoch=0, app_id="w",
                    n_buckets=2)
    io = get_fileio(None)
    snap0 = latest_snapshot(io, wh)
    before = {t: _state(spark, wh, t) for t in ("t0", "t1")}
    v0 = {
        t: LakeTable(spark, os.path.join(wh, t)).manifest()["version"]
        for t in ("t0", "t1")
    }

    arm_route()
    res = stage_cdc_batch(
        spark, _feed(spark, 100, 12, op="U"), wh, epoch=1, app_id="w",
        n_buckets=2,
    )
    assert res["branch"] == "wap-w-1"
    assert set(staged_tables(wh, "wap-w-1")) == {"t0", "t1"}
    # invisible to main: reads, versions, change feed, snapshot log
    for t in ("t0", "t1"):
        lt = LakeTable(spark, os.path.join(wh, t))
        assert _state(spark, wh, t) == before[t]
        assert lt.manifest()["version"] == v0[t]
        assert lt.table_changes(v0[t]).count() == 0
    assert latest_snapshot(io, wh) == snap0
    # visible on the branch (the audit read) — capture the staged state
    staged = {}
    for t in ("t0", "t1"):
        b = LakeTable(spark, os.path.join(wh, t)).branch_of("wap-w-1")
        staged[t] = {
            r["doc_id"]: list(r["tokens"]) for r in b.read().collect()
        }
        assert staged[t] != before[t]
        assert any(v[0] >= 100 for v in staged[t].values())

    pub = publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1)
    assert set(pub["tables"]) == {"t0", "t1"}
    assert pub["snapshot_seq"] is not None
    for t in ("t0", "t1"):
        # published main state is byte-equal to the audited staged state
        assert _state(spark, wh, t) == staged[t]
    # ONE snapshot pinning both tables' published heads
    ws = WarehouseSnapshot.latest(spark, wh)
    assert ws.seq == pub["snapshot_seq"]
    for t in ("t0", "t1"):
        assert (
            ws.tables[t]
            == LakeTable(spark, os.path.join(wh, t)).manifest()["version"]
        )
        assert pub["tables"][t]["head_version"] == ws.tables[t]
    assert staged_tables(wh, "wap-w-1") == {}

    # staged epochs ride the ledger: replaying epoch 1 directly no-ops
    out = apply_cdc_batch(spark, _feed(spark, 100, 12, op="U"), wh,
                          epoch=1, app_id="w", n_buckets=2)
    assert all(m.get("skipped") for m in out["tables"].values())


def test_stage_creates_table_invisible_until_publish(spark, tmp_path):
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 6, tables=("t0",)), wh,
                    epoch=0, app_id="w", n_buckets=2)
    stage_cdc_batch(
        spark, _feed(spark, 100, 6, tables=("tnew",)), wh, epoch=1,
        app_id="w", n_buckets=2,
    )
    # the table EXISTS (empty v0 on main) but holds no published rows
    assert _state(spark, wh, "tnew") == {}
    publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1)
    assert len(_state(spark, wh, "tnew")) > 0


def test_stage_replay_is_idempotent(spark, tmp_path):
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 8), wh, epoch=0, app_id="w",
                    n_buckets=2)
    stage_cdc_batch(spark, _feed(spark, 100, 8, op="U"), wh, epoch=1,
                    app_id="w", n_buckets=2)
    heads = {t: i["head_version"] for t, i in
             staged_tables(wh, "wap-w-1").items()}
    # crash-replay of the SAME stage call: branch reused, ledger skips
    out = stage_cdc_batch(spark, _feed(spark, 100, 8, op="U"), wh,
                          epoch=1, app_id="w", n_buckets=2)
    assert all(m.get("skipped") for m in out["tables"].values())
    assert {t: i["head_version"] for t, i in
            staged_tables(wh, "wap-w-1").items()} == heads
    publish_staged_batch(spark, wh, "wap-w-1")


def test_publish_resumes_after_partial_crash(spark, tmp_path):
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 8), wh, epoch=0, app_id="w",
                    n_buckets=2)
    stage_cdc_batch(spark, _feed(spark, 100, 8, op="U"), wh, epoch=1,
                    app_id="w", n_buckets=2)
    # simulate: crash published t0's branch but not t1's, no snapshot
    LakeTable(spark, os.path.join(wh, "t0")).fast_forward("wap-w-1")
    pub = publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1)
    assert set(pub["tables"]) == {"t1"}  # only the remainder fast-forwards
    for t in ("t0", "t1"):
        assert any(v[0] >= 100 for v in _state(spark, wh, t).values())
    # the resumed publish pins BOTH tables' post-batch heads (the staged
    # table marker survives t0's branch deletion): a snapshot reader
    # must never see t0 pre-batch next to t1 post-batch
    assert pub["snapshot_seq"] is not None
    io = get_fileio(None)
    snap = latest_snapshot(io, wh)
    t0_head = LakeTable(spark, os.path.join(wh, "t0")).manifest()["version"]
    t1_head = LakeTable(spark, os.path.join(wh, "t1")).manifest()["version"]
    assert snap["tables"]["t0"] == t0_head
    assert snap["tables"]["t1"] == t1_head
    # marker is consumed by the completed publish
    from multi_table_plugins_spark.streaming.wap import _marker_path

    assert not os.path.exists(_marker_path(wh, "wap-w-1"))


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_publish_resume_skips_a_vanished_table(spark, tmp_path, backend):
    """A marker table whose directory is gone since the crash is skipped
    with one ``degraded`` record; the rest of the batch still publishes
    and the marker is consumed, so the branch is not wedged."""
    from multi_table_plugins_spark.streaming.lineage import LineageLog
    from multi_table_plugins_spark.streaming.wap import _marker_path

    io = get_fileio(backend)
    wh = str(tmp_path / "wh")
    tables = ("ta", "tb")
    apply_cdc_batch(spark, _feed(spark, 1, 8, tables), wh, epoch=0,
                    app_id="w", n_buckets=2, io=io)
    stage_cdc_batch(spark, _feed(spark, 100, 8, tables, op="U"), wh,
                    epoch=1, app_id="w", n_buckets=2, io=io)
    # the crash shape above: ta fast-forwarded, no snapshot; then tb goes
    LakeTable(spark, os.path.join(wh, "ta"), io=io).fast_forward("wap-w-1")
    io.remove_tree(os.path.join(wh, "tb"))

    pub = publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1, io=io)
    assert pub["tables"] == {} and pub["snapshot_seq"] is not None
    snap = latest_snapshot(io, wh)
    ta_head = LakeTable(spark, os.path.join(wh, "ta"), io=io).manifest()["version"]
    assert snap["epoch"] == 1 and snap["tables"]["ta"] == ta_head
    degraded = [r for r in LineageLog(wh).read() if r.get("kind") == "degraded"]
    assert [(r["site"], r["branch"], r["table"]) for r in degraded] == [
        ("wap_publish", "wap-w-1", "tb")
    ]
    assert not io.exists(_marker_path(wh, "wap-w-1"))

    again = publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1, io=io)
    assert again == {"branch": "wap-w-1", "tables": {}, "snapshot_seq": None}
    assert latest_snapshot(io, wh)["seq"] == snap["seq"]
    assert len([r for r in LineageLog(wh).read() if r.get("kind") == "degraded"]) == 1


def test_publish_resumes_after_crash_past_last_table(spark, tmp_path):
    """Crash AFTER the last fast-forward but BEFORE the snapshot: every
    branch is gone, yet the rerun must still publish the batch snapshot
    (previously it silently published nothing)."""
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 8), wh, epoch=0, app_id="w",
                    n_buckets=2)
    stage_cdc_batch(spark, _feed(spark, 100, 8, op="U"), wh, epoch=1,
                    app_id="w", n_buckets=2)
    for t in ("t0", "t1"):
        LakeTable(spark, os.path.join(wh, t)).fast_forward("wap-w-1")
    pub = publish_staged_batch(spark, wh, "wap-w-1", app_id="w", epoch=1)
    assert pub["tables"] == {}  # nothing left to fast-forward
    assert pub["snapshot_seq"] is not None
    io = get_fileio(None)
    snap = latest_snapshot(io, wh)
    for t in ("t0", "t1"):
        head = LakeTable(spark, os.path.join(wh, t)).manifest()["version"]
        assert snap["tables"][t] == head


class _TornFile:
    """A text file whose first write lands half its data and then fails,
    as a full disk or a kill mid-write would leave it."""

    def __init__(self, f):
        self._f = f

    def write(self, data):
        self._f.write(data[: len(data) // 2])
        self._f.flush()
        raise OSError(errno.ENOSPC, "injected failure mid-write")

    def __getattr__(self, name):
        return getattr(self._f, name)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_marker_write_failure_never_leaves_a_torn_marker(tmp_path, monkeypatch, backend):
    from multi_table_plugins_spark.lakehouse import fileio
    from multi_table_plugins_spark.streaming.wap import (
        _marker_path,
        _read_marker,
        _write_marker,
    )

    io, wh = get_fileio(backend), str(tmp_path / "wh")
    marker = _marker_path(wh, "b")

    def torn_open(path, mode="r", *a, **kw):
        f = builtins.open(path, mode, *a, **kw)
        return _TornFile(f) if "w" in mode else f

    def torn_write_all(fd, payload):
        os.write(fd, payload[: len(payload) // 2])
        raise OSError(errno.ENOSPC, "injected failure mid-write")

    def write_failing(tables):
        with monkeypatch.context() as m:
            m.setattr(fileio, "open", torn_open, raising=False)
            m.setattr(fileio, "_write_all", torn_write_all)
            with pytest.raises(OSError, match="injected"):
                _write_marker(io, wh, "b", tables)
        # whatever is left at the marker path is a whole marker
        if os.path.exists(marker):
            json.loads(open(marker).read())
        assert not [n for n in os.listdir(os.path.dirname(marker)) if ".tmp" in n]

    write_failing(["t0"])
    assert not os.path.exists(marker)
    _write_marker(io, wh, "b", ["t0"])
    write_failing(["t0", "t1"])  # a union update fails mid-write
    # rerunning the stage writes the full set
    _write_marker(io, wh, "b", ["t0", "t1"])
    assert _read_marker(io, wh, "b") == ["t0", "t1"]


def test_discard_and_conflict(spark, tmp_path):
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, _feed(spark, 1, 8), wh, epoch=0, app_id="w",
                    n_buckets=2)
    before = {t: _state(spark, wh, t) for t in ("t0", "t1")}
    stage_cdc_batch(spark, _feed(spark, 100, 8, op="U"), wh, epoch=1,
                    app_id="w", n_buckets=2)
    # main advances independently -> publish must conflict, not merge
    apply_cdc_batch(spark, _feed(spark, 200, 8, op="U"), wh, epoch=1,
                    app_id="other", n_buckets=2)
    with pytest.raises(CommitConflict):
        publish_staged_batch(spark, wh, "wap-w-1")
    out = discard_staged_batch(wh, "wap-w-1")
    assert set(out["dropped"]) == {"t0", "t1"}
    assert staged_tables(wh, "wap-w-1") == {}
    # main state is the independent writer's, untouched by the staging
    for t in ("t0", "t1"):
        st = _state(spark, wh, t)
        assert st != before[t]
        assert any(v[0] >= 200 for v in st.values())
        assert not any(100 <= v[0] < 200 for v in st.values())
