"""LakeTable: MERGE semantics, exactly-once ledger, tombstones, schema
evolution, compaction, atomic commit. The golden-final-state style mirrors
the reference's PipelineTest.java:185-230 (assert exact end state)."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multi_table_plugins_spark.lakehouse import CommitConflict, LakeTable
from multi_table_plugins_spark.schemas import TARGET_SCHEMA

CH = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def unreferenced_data_files(t, versions=None) -> "set[str]":
    """Parquet files under ``t``'s data directory (relative to the
    table root) that no manifest of ``versions`` lists (default: the
    current one)."""
    listed = {
        e["path"]
        for v in (versions if versions is not None else [None])
        for b in t.manifest(v)["buckets"].values()
        for part in ("base", "delta")
        for e in b.get(part, [])
    }
    on_disk = {
        os.path.relpath(os.path.join(d, f), t.path)
        for d, _, fs in os.walk(os.path.join(t.path, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    return on_disk - listed


def _changes(spark, rows):
    return spark.createDataFrame(
        [(l, o, k, t, len(t) if t is not None else None, "web") for l, o, k, t in rows],
        CH,
    )


def _state(t):
    return {
        r["doc_id"]: r["tokens"]
        for r in t.read().collect()
    }


def test_merge_upsert_delete_lww(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=4)
    m1 = t.merge_into(
        _changes(
            spark,
            [
                (1, "I", "a", [1, 2]),
                (2, "I", "b", [3]),
                (3, "U", "a", [9, 9, 9]),  # same-batch LWW: lsn 3 beats 1
            ],
        ),
        app_id="t1",
        epoch=0,
    )
    assert m1["rows_applied"] == 2  # deduped to one row per key
    assert _state(t) == {"a": [9, 9, 9], "b": [3]}

    t.merge_into(
        _changes(spark, [(4, "D", "b", None), (5, "U", "c", [7])]),
        app_id="t1",
        epoch=1,
    )
    assert _state(t) == {"a": [9, 9, 9], "c": [7]}


def test_out_of_order_lsn_never_resurrects(spark, tmp_table_dir):
    """A late, lower-LSN update arriving AFTER a delete must not revive the
    row — the persisted tombstone wins LWW across batches."""
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(10, "I", "a", [1])]), app_id="x", epoch=0)
    t.merge_into(_changes(spark, [(30, "D", "a", None)]), app_id="x", epoch=1)
    # straggler with lsn 20 (< 30) in a later batch
    t.merge_into(_changes(spark, [(20, "U", "a", [2])]), app_id="x", epoch=2)
    assert _state(t) == {}
    # and a genuinely newer write does revive it
    t.merge_into(_changes(spark, [(40, "I", "a", [5])]), app_id="x", epoch=3)
    assert _state(t) == {"a": [5]}


def test_exactly_once_ledger(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    b0 = _changes(spark, [(1, "I", "a", [1])])
    t.merge_into(b0, app_id="app", epoch=0)
    snap = t.snapshot_id()
    # crash-replay: same epoch re-applied → no-op, state and snapshot unchanged
    r = t.merge_into(b0, app_id="app", epoch=0)
    assert r["skipped"] is True
    assert t.snapshot_id() == snap
    assert _state(t) == {"a": [1]}
    # a different app_id is an independent writer
    r2 = t.merge_into(_changes(spark, [(2, "U", "a", [2])]), app_id="other", epoch=0)
    assert r2["skipped"] is False
    assert _state(t) == {"a": [2]}


def test_schema_evolution_add_column_and_widen(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1, 2])]), app_id="e", epoch=0)

    evolved = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("n_tok", LongType(), True),  # widened int→long
            StructField("source", StringType(), True),
            StructField("lang", StringType(), True),  # added column
        ]
    )
    df = spark.createDataFrame([(2, "I", "b", [7, 8, 9], 3, "web", "en")], evolved)
    t.merge_into(df, app_id="e", epoch=1)

    s = t.schema()
    assert s["n_tok"].dataType == LongType()
    assert "lang" in s.names
    rows = {r["doc_id"]: r for r in t.read().collect()}
    assert rows["a"]["lang"] is None  # old row null-filled
    assert rows["a"]["n_tok"] == 2  # old int32 readable under long
    assert rows["b"]["lang"] == "en"
    assert rows["b"]["tokens"] == [7, 8, 9]


def test_compaction_preserves_state(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2, compact_threshold=1000
    )
    for e in range(5):
        t.merge_into(
            _changes(spark, [(10 * e + i, "I", f"k{i}", [e, i]) for i in range(6)]),
            app_id="c",
            epoch=e,
        )
    before = _state(t)
    m = t.manifest()
    assert any(b["delta"] for b in m["buckets"].values())
    t.compact()
    m2 = t.manifest()
    assert all(not b["delta"] for b in m2["buckets"].values())
    assert _state(t) == before
    # deltas folded: total files shrank
    assert m2["stats"]["total_files"] <= m["stats"]["total_files"]


def test_cow_mode_compacts_every_commit(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2, mode="cow")
    t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="w", epoch=0)
    t.merge_into(_changes(spark, [(2, "U", "a", [2])]), app_id="w", epoch=1)
    m = t.manifest()
    assert all(not b["delta"] for b in m["buckets"].values())
    assert _state(t) == {"a": [2]}


def test_atomic_commit_conflict(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    m = json.loads(json.dumps(t.manifest()))
    t2 = LakeTable(spark, tmp_table_dir)
    m2 = json.loads(json.dumps(t2.manifest()))
    t._advance(m)
    t._publish(m)
    t2._advance(m2)  # same parent version → same target version
    with pytest.raises(CommitConflict):
        t2._publish(m2)


def test_bucket_pruning_only_rewrites_touched_buckets(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=8, compact_threshold=1000
    )
    t.merge_into(
        _changes(spark, [(i, "I", f"k{i}", [i]) for i in range(1, 65)]),
        app_id="p",
        epoch=0,
    )
    t.compact()
    base_files = {
        b: [e["path"] for e in v["base"]] for b, v in t.manifest()["buckets"].items()
    }
    # touch exactly one key → exactly one bucket gets a delta
    r = t.merge_into(_changes(spark, [(100, "U", "k1", [9])]), app_id="p", epoch=1)
    assert len(r["buckets_touched"]) == 1
    touched = r["buckets_touched"][0]
    t.compact()
    after = {
        b: [e["path"] for e in v["base"]] for b, v in t.manifest()["buckets"].items()
    }
    for b, files in base_files.items():
        if b != touched:
            assert after[b] == files  # untouched buckets not rewritten
    assert after[touched] != base_files[touched]


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
