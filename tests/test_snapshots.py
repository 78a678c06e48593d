"""Cross-table consistent warehouse snapshots: after every COMPLETE
multi-table batch the pipeline publishes a snapshot pinning each
table's version; readers resolving tables through a WarehouseSnapshot
never observe a half-committed batch (some tables at epoch N, others
at N−1), even though per-table commits are individually atomic.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from multi_table_plugins_spark.lakehouse import (
    LakeTable,
    WarehouseSnapshot,
    latest_snapshot,
    publish_snapshot,
)
from multi_table_plugins_spark.lakehouse.fileio import get_fileio
from multi_table_plugins_spark.streaming.cdc_pipeline import apply_cdc_batch

FEED = StructType(
    [
        StructField("table_name", StringType(), False),
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("v", LongType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, FEED)


def _merge(spark, wh, rows, epoch):
    """One batch through the pipeline (which publishes the snapshot);
    ``fail`` mode raises a table's commit failure instead of isolating
    it."""
    return apply_cdc_batch(
        spark,
        _batch(spark, rows),
        wh,
        epoch=epoch,
        app_id="snap",
        error_mode="fail",
        validate=False,
        n_buckets=2,
        key_col="doc_id",
    )["tables"]


def test_batch_publishes_snapshot_and_reads_are_consistent(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _merge(
        spark,
        wh,
        [("t0", i, "I", i, i) for i in range(5)]
        + [("t1", 100 + i, "I", i, 10 * i) for i in range(5)],
        0,
    )
    io = get_fileio(None)
    doc = latest_snapshot(io, wh)
    assert doc is not None and set(doc["tables"]) == {"t0", "t1"}
    assert doc["epoch"] == 0

    snap = WarehouseSnapshot.latest(spark, wh)
    assert snap.tables == doc["tables"]
    assert snap.read("t0").count() == 5
    assert snap.read("t1").count() == 5

    # a later batch advances BOTH the tables and the snapshot; the OLD
    # snapshot handle keeps serving the old consistent state
    _merge(
        spark,
        wh,
        [("t0", 1000, "I", 50, 1), ("t1", 1001, "D", 0, None)],
        1,
    )
    assert snap.read("t0").count() == 5  # pinned — no key 50 yet
    assert snap.read("t1").count() == 5  # pinned — delete not visible
    snap2 = WarehouseSnapshot.latest(spark, wh)
    assert snap2.seq == snap.seq + 1
    assert snap2.read("t0").count() == 6
    assert snap2.read("t1").count() == 4


def test_half_committed_batch_invisible_through_snapshot(
    spark, tmp_path, monkeypatch
):
    """Crash after t0's commit but before t1's: table reads expose the
    torn state, snapshot reads do not."""
    wh = str(tmp_path / "wh")
    _merge(
        spark,
        wh,
        [("t0", 1, "I", 1, 1), ("t1", 2, "I", 1, 1)],
        0,
    )
    before = WarehouseSnapshot.latest(spark, wh)

    import threading

    orig = LakeTable.commit_delta
    lock = threading.Lock()
    state = {"n": 0}

    def half_commit(self, *a, **kw):
        with lock:
            state["n"] += 1
            mine = state["n"]
        if mine == 2:
            # second table's commit never happens — torn batch
            raise RuntimeError("simulated crash before second commit")
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit_delta", half_commit)
    with pytest.raises(RuntimeError, match="commit failed"):
        _merge(
            spark,
            wh,
            [("t0", 10, "I", 2, 2), ("t1", 11, "I", 2, 2)],
            1,
        )
    monkeypatch.setattr(LakeTable, "commit_delta", orig)

    # raw per-table reads CAN be torn (exactly one of the two applied)…
    t0 = LakeTable(spark, os.path.join(wh, "t0")).read().count()
    t1 = LakeTable(spark, os.path.join(wh, "t1")).read().count()
    assert sorted([t0, t1]) == [1, 2]
    # …but the snapshot still serves the last complete batch
    cur = WarehouseSnapshot.latest(spark, wh)
    assert cur.seq == before.seq
    assert cur.read("t0").count() == 1 and cur.read("t1").count() == 1

    # the exactly-once replay completes the batch and the snapshot
    # advances atomically past it
    _merge(
        spark,
        wh,
        [("t0", 10, "I", 2, 2), ("t1", 11, "I", 2, 2)],
        1,
    )
    cur2 = WarehouseSnapshot.latest(spark, wh)
    assert cur2.seq == before.seq + 1
    assert cur2.read("t0").count() == 2 and cur2.read("t1").count() == 2


def test_publish_carries_forward_untouched_tables(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _merge(spark, wh, [("t0", 1, "I", 1, 1), ("t1", 2, "I", 1, 1)], 0)
    s1 = latest_snapshot(get_fileio(None), wh)
    # a batch touching only t0 must keep t1's pin
    _merge(spark, wh, [("t0", 10, "I", 2, 2)], 1)
    s2 = latest_snapshot(get_fileio(None), wh)
    assert s2["tables"]["t1"] == s1["tables"]["t1"]
    assert s2["tables"]["t0"] > s1["tables"]["t0"]


def test_snapshot_pruning_and_unknown_table(spark, tmp_path):
    wh = str(tmp_path / "wh")
    io = get_fileio(None)
    os.makedirs(wh)
    for i in range(5):
        publish_snapshot(io, wh, {"t": i}, keep_last=3)
    files = sorted(os.listdir(os.path.join(wh, "_snapshots")))
    assert len(files) == 3 and files[-1] == "snap-00000005.json"
    _merge(spark, wh, [("t0", 1, "I", 1, 1)], 0)
    snap = WarehouseSnapshot.latest(spark, wh)
    with pytest.raises(KeyError, match="not pinned"):
        snap.read("nope")


def test_snapshot_read_supports_pruning_kwargs(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _merge(
        spark,
        wh,
        [("t0", i, "I", i, i) for i in range(50)],
        0,
    )
    snap = WarehouseSnapshot.latest(spark, wh)
    got = snap.read("t0", where=[("doc_id", ">=", 40)])
    assert got.count() == 10


def test_isolated_apply_path_publishes_snapshots(
    spark, tmp_path, fail_next_merge_many
):
    """The per-table fallback must advance the warehouse snapshot on
    complete batches too."""
    wh = str(tmp_path / "wh")
    fail_next_merge_many()
    apply_cdc_batch(
        spark,
        _batch(
            spark,
            [("t0", 1, "I", 1, 1), ("t1", 2, "I", 1, 1)],
        ).withColumn("ts", F.current_timestamp()),
        wh,
        epoch=0,
        app_id="iso",
        validate=False,
        n_buckets=2,
        key_col="doc_id",
    )
    snap = WarehouseSnapshot.latest(spark, wh)
    assert snap is not None and set(snap.tables) == {"t0", "t1"}
    assert snap.read("t0").count() == 1


def _fail_publish(monkeypatch):
    from multi_table_plugins_spark.lakehouse import snapshots

    def boom(*a, **k):
        raise OSError("snapshot dir unwritable")

    monkeypatch.setattr(snapshots, "publish_snapshot", boom)


def _degraded(wh):
    from multi_table_plugins_spark.streaming.lineage import LineageLog

    return [r for r in LineageLog(wh).read() if r["kind"] == "degraded"]


def test_fast_path_snapshot_publish_failure_is_recorded(
    spark, tmp_path, monkeypatch
):
    """A failed post-batch publish keeps the committed batch and leaves a
    ``degraded`` lineage record instead of passing silently."""
    wh = str(tmp_path / "wh")
    _fail_publish(monkeypatch)
    res = _merge(spark, wh, [("t0", 1, "I", 1, 1), ("t1", 2, "I", 1, 1)], 0)
    assert res["t0"]["version"] is not None and res["t1"]["version"] is not None
    assert LakeTable(spark, os.path.join(wh, "t0")).read().count() == 1
    assert latest_snapshot(get_fileio(None), wh) is None
    (rec,) = _degraded(wh)
    assert rec["site"] == "snapshot_publish" and rec["epoch"] == 0
    assert rec["tables"] == ["t0", "t1"] and "unwritable" in rec["error"]


def test_isolated_path_snapshot_publish_failure_is_recorded(
    spark, tmp_path, monkeypatch, fail_next_merge_many
):
    wh = str(tmp_path / "wh")
    _fail_publish(monkeypatch)
    fail_next_merge_many()
    out = apply_cdc_batch(
        spark,
        _batch(
            spark,
            [("t0", 1, "I", 1, 1), ("t1", 2, "I", 1, 1)],
        ).withColumn("ts", F.current_timestamp()),
        wh,
        epoch=3,
        app_id="iso",
        validate=False,
        n_buckets=2,
        key_col="doc_id",
    )
    assert out["failed"] == [] and set(out["tables"]) == {"t0", "t1"}
    assert latest_snapshot(get_fileio(None), wh) is None
    (rec,) = _degraded(wh)
    assert rec["site"] == "snapshot_publish" and rec["app_id"] == "iso"
    assert rec["epoch"] == 3 and rec["tables"] == ["t0", "t1"]
