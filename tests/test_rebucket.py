"""Bucket-layout evolution (``LakeTable.rebucket``): a table created
with the wrong bucket count for its eventual size can be rewritten to
a new count — the Iceberg partition-spec-evolution analog. Invariants:
state identical before/after; lookups and pruning work against the new
layout; a merge batch hashed with the OLD layout that lands after a
rebucket CONFLICTS and re-buckets instead of filing rows under wrong
bucket ids (silent lookup misses forever).
"""

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multi_table_plugins_spark.lakehouse import LakeTable

SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("source", StringType(), True),
    ]
)
CH = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("source", StringType(), True),
    ]
)


def _b(spark, rows):
    return spark.createDataFrame(rows, CH)


def _state(t):
    return {
        r["doc_id"]: (r["tokens"], r["source"]) for r in t.read().collect()
    }


def test_rebucket_preserves_state_and_serves_lookups(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2
    )
    t.merge_into(
        _b(spark, [(i, "I", i, [i], "s") for i in range(100)]),
        app_id="r",
        epoch=0,
    )
    t.merge_into(
        _b(
            spark,
            [(1000, "U", 7, [7, 7], "s2"), (1001, "D", 9, None, None)],
        ),
        app_id="r",
        epoch=1,
    )
    before = _state(t)
    r = t.rebucket(8)
    assert r["rebucketed"] and r["n_buckets"] == 8
    assert t.n_buckets == 8
    m = t.manifest()
    assert len(m["buckets"]) == 8
    assert all(not b["delta"] for b in m["buckets"].values())
    assert _state(t) == before
    # point lookup hashes with the NEW layout
    got = t.lookup(7).collect()
    assert len(got) == 1 and got[0]["tokens"] == [7, 7]
    assert t.lookup(9).count() == 0  # tombstone survives the rewrite
    # further merges land correctly in the new layout
    t.merge_into(
        _b(spark, [(2000, "I", 500, [5], "s3")]), app_id="r", epoch=2
    )
    assert t.lookup(500).count() == 1


def test_rebucket_noop_and_validation(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4
    )
    assert t.rebucket(4) == {"rebucketed": False, "n_buckets": 4}
    with pytest.raises(ValueError, match="n_buckets"):
        t.rebucket(0)


def test_rebucket_clustered(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2
    )
    t.merge_into(
        _b(spark, [(i, "I", i, [i], "s") for i in range(200)]),
        app_id="r",
        epoch=0,
    )
    t.rebucket(4, cluster=True)
    got = t.read(where=[("doc_id", ">=", 150)])
    assert got.count() == 50
    info = t.last_scan_info
    assert info["files_read"] < info["files_total"]


def test_concurrent_merge_rebuckets_after_layout_change(
    spark, tmp_path, monkeypatch
):
    """A merge whose batch was hashed with the old layout but whose
    commit lands after a rebucket must retry with the new layout — the
    final state contains the row, findable by lookup."""
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    t.merge_into(
        _b(spark, [(i, "I", i, [i], "s") for i in range(20)]),
        app_id="r",
        epoch=0,
    )
    other = LakeTable(spark, p)
    fired = {"n": 0}
    orig = t._write_data_files

    def hooked(df, version, tag, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            other.rebucket(8)  # layout changes mid-merge
        return orig(df, version, tag, **kw)

    monkeypatch.setattr(t, "_write_data_files", hooked)
    t.merge_into(
        _b(spark, [(5000, "I", 999, [9], "late")]), app_id="r", epoch=1
    )
    assert fired["n"] == 1
    assert t.n_buckets == 8
    got = t.lookup(999).collect()
    assert len(got) == 1 and got[0]["source"] == "late"
    # every manifest delta entry lives under a bucket id < 8 and the
    # row is in the bucket its NEW hash says
    assert all(int(b) < 8 for b in t.manifest()["buckets"])


def test_table_changes_across_rebucket_boundary(spark, tmp_path):
    """Bucket ids in post-rebucket commits don't translate to the
    v_from layout — the old-state read must widen to every bucket, or
    updates whose old rows live in 'untouched' buckets would
    misclassify as inserts."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2
    )
    t.merge_into(
        _b(spark, [(i, "I", i, [i], "s") for i in range(40)]),
        app_id="r",
        epoch=0,
    )
    v0 = t.manifest()["version"]
    t.rebucket(8)
    t.merge_into(
        _b(
            spark,
            [(100, "U", 3, [33], "s2"), (101, "D", 5, None, None),
             (102, "I", 77, [7], "s")],
        ),
        app_id="r",
        epoch=1,
    )
    got = {
        r["doc_id"]: r["change_type"]
        for r in t.table_changes(v0).collect()
    }
    assert got == {3: "update", 5: "delete", 77: "insert"}


def test_fast_path_handles_rebucketed_table(spark, tmp_path):
    """After maintain.py rebucket changes ONE table's layout, the
    multi-table fast path must keep working: the divergent table takes
    the slow lane (re-bucketed to its own layout), siblings stay on the
    zero-copy lane, and the warehouse snapshot still advances."""
    from multi_table_plugins_spark.streaming.cdc_pipeline import apply_cdc_batch
    from multi_table_plugins_spark.lakehouse.snapshots import latest_snapshot
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from pyspark.sql.types import StructField, StructType, StringType

    FEED = StructType(
        [
            StructField("table_name", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("doc_id", LongType(), False),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("source", StringType(), True),
        ]
    )

    wh = str(tmp_path / "wh")
    apply_cdc_batch(
        spark,
        spark.createDataFrame(
            [("t0", i, "I", i, [i], "s") for i in range(10)]
            + [("t1", 100 + i, "I", i, [i], "s") for i in range(10)],
            FEED,
        ),
        wh,
        app_id="rb",
        epoch=0,
        n_buckets=4,
        error_mode="fail",
        validate=False,
    )
    import os as _os

    LakeTable(spark, _os.path.join(wh, "t0")).rebucket(8)
    apply_cdc_batch(
        spark,
        spark.createDataFrame(
            [("t0", 1000, "I", 50, [5], "late"),
             ("t1", 1001, "I", 50, [5], "late")],
            FEED,
        ),
        wh,
        app_id="rb",
        epoch=1,
        n_buckets=4,
        error_mode="fail",
        validate=False,
    )
    t0 = LakeTable(spark, _os.path.join(wh, "t0"))
    t1 = LakeTable(spark, _os.path.join(wh, "t1"))
    assert t0.n_buckets == 8 and t1.n_buckets == 4
    assert t0.lookup(50).count() == 1  # correctly bucketed in NEW layout
    assert t1.lookup(50).count() == 1
    snap = latest_snapshot(get_fileio(None), wh)
    assert snap["epoch"] == 1  # snapshot still advances past the batch


def test_slow_lane_rebuckets_after_concurrent_rebucket(
    spark, tmp_path, monkeypatch
):
    """merge_many's slow lane (here: a table with a CHECK constraint)
    hashes its rows with the layout it read; a rebucket() landing
    before its commit makes the commit conflict, and the recompute loop
    re-buckets with the new layout and commits. The losing run's files
    are discarded."""
    import os

    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many
    from tests.test_lakehouse import unreferenced_data_files

    feed_schema = StructType(
        [StructField("table_name", StringType(), False), *CH.fields]
    )

    def feed(rows):
        return spark.createDataFrame(rows, feed_schema)

    wh = str(tmp_path / "wh")
    merge_many(
        spark,
        feed([("t0", i, "I", i, [i], "s") for i in range(10)]),
        wh,
        app_id="sl",
        epoch=0,
        n_buckets=4,
    )
    p = os.path.join(wh, "t0")
    LakeTable(spark, p).add_constraint("nonneg", "doc_id >= 0")
    fired = {"n": 0}
    orig = LakeTable._write_data_files

    def hooked(self, df, version, tag, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            LakeTable(spark, p).rebucket(8)  # layout changes mid-merge
        return orig(self, df, version, tag, **kw)

    monkeypatch.setattr(LakeTable, "_write_data_files", hooked)
    res = merge_many(
        spark,
        feed([("t0", 1000, "I", 50, [5], "late")]),
        wh,
        app_id="sl",
        epoch=1,
        n_buckets=4,
    )
    monkeypatch.undo()
    assert fired["n"] == 1
    assert res["t0"]["skipped"] is False and res["t0"]["rows_applied"] == 1
    t = LakeTable(spark, p)
    assert t.n_buckets == 8
    assert all(int(b) < 8 for b in t.manifest()["buckets"])
    assert t.lookup(50).count() == 1  # filed under its NEW bucket
    state = _state(t)
    assert len(state) == 11 and state[50] == ([5], "late")
    assert unreferenced_data_files(t, versions=t.versions()) == set()


def test_n_buckets_mismatch_refused(spark, tmp_path):
    import os
    from datetime import datetime

    from multi_table_plugins_spark.schemas import CHANGE_FEED_SCHEMA
    from multi_table_plugins_spark.streaming import apply_cdc_batch
    from tests.test_lakehouse import _state

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
