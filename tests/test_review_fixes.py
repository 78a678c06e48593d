"""Regression tests for code-review findings."""

import os
from datetime import datetime

import pytest

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.lakehouse.multi_merge import is_safe_table_name
from multi_table_plugins_spark.schemas import CHANGE_FEED_SCHEMA, TARGET_SCHEMA
from multi_table_plugins_spark.streaming import apply_cdc_batch
from tests.test_lakehouse import _changes, _state


def test_reserved_names_rejected():
    # '_batch' collides with merge_many's stats key; '_errors'/'_lineage'/
    # '_staging' collide with engine directories
    for bad in ("_batch", "_errors", "_lineage", "_staging", ".hidden"):
        assert not is_safe_table_name(bad), bad
    assert is_safe_table_name("a_b")  # interior underscores stay legal


def test_isolated_path_rejects_traversal(spark, tmp_path, fail_next_merge_many):
    t0 = datetime(2026, 1, 1)
    rows = [
        (1, "good_t", "I", "a", [1], 1, "web", t0),
        (2, "../evil2", "I", "b", [2], 1, "web", t0),
    ]
    df = spark.createDataFrame(rows, CHANGE_FEED_SCHEMA)
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    before = set(os.listdir(str(tmp_path)))
    # force the per-table fallback: the one-job apply fails once
    fail_next_merge_many()
    apply_cdc_batch(
        spark, df, wh, epoch=0, app_id="sec2", error_mode="error-port",
    )
    assert LakeTable.exists(os.path.join(wh, "good_t"))
    assert set(os.listdir(str(tmp_path))) == before
    assert not any("evil" in n for n in os.listdir(wh))


def test_crash_between_write_and_publish_does_not_poison(spark, tmp_table_dir, monkeypatch):
    """Simulate a crash after data files are written but before the
    manifest publishes: the replayed epoch must succeed, not die on a
    'path already exists' collision."""
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    orig_publish = t._publish
    calls = {"n": 0}

    def crashing_publish(m, added=None):
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("simulated crash before manifest publish")
        return orig_publish(m, added=added)

    monkeypatch.setattr(t, "_publish", crashing_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="c", epoch=0)
    # replay of the same epoch succeeds (fresh uuid-suffixed data dir)
    r = t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="c", epoch=0)
    assert r["skipped"] is False
    assert _state(t) == {"a": [1]}


def test_n_buckets_mismatch_refused(spark, tmp_path):
    t0 = datetime(2026, 1, 1)
    rows = [(1, "t0", "I", "a", [1], 1, "web", t0)]
    df = spark.createDataFrame(rows, CHANGE_FEED_SCHEMA)
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, df, wh, epoch=0, app_id="nb", n_buckets=4)
    # second batch with a different bucket layout: the table must refuse
    # (skip mode: failure isolated, no corruption) rather than mis-file data
    rows2 = [(2, "t0", "U", "a", [2], 1, "web", t0)]
    df2 = spark.createDataFrame(rows2, CHANGE_FEED_SCHEMA)
    r = apply_cdc_batch(
        spark, df2, wh, epoch=1, app_id="nb", n_buckets=8, error_mode="skip"
    )
    # the fast path refuses the mismatched layout; the isolated fallback
    # applies via merge_into, which buckets with the TABLE's own layout —
    # correct data, no mis-filed buckets
    assert r["failed"] == []
    lt = LakeTable(spark, os.path.join(wh, "t0"))
    assert _state(lt) == {"a": [2]}
    assert lt.n_buckets == 4  # layout unchanged
    # every registered bucket id respects the table's layout
    assert all(int(b) < 4 for b in lt.manifest()["buckets"])


def test_vacuum_updates_total_files(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1]), (2, "I", "b", [2])]), app_id="v", epoch=0)
    t.merge_into(_changes(spark, [(5, "D", "a", None)]), app_id="v", epoch=1)
    t.vacuum_tombstones(lsn_watermark=10)
    m = t.manifest()
    actual = sum(
        len(b.get("base", [])) + len(b.get("delta", [])) for b in m["buckets"].values()
    )
    assert m["stats"]["total_files"] == actual
