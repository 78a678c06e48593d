"""Compound primary keys (reference parity: DBTableInfo.java:28-50
carries ``primaryKey: List<String>`` — junction/association tables).
LWW resolution, bucketing, point lookups, the one-job multi-table merge,
and crash-replay idempotence must all key on the column TUPLE."""

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

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.streaming import apply_cdc_batch

PAYLOAD = StructType(
    [
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("val", LongType(), True),
    ]
)

CH = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("val", LongType(), True),
    ]
)


def _changes(spark, rows):
    return spark.createDataFrame(rows, CH)


def _state(t):
    return {(r["k1"], r["k2"]): r["val"] for r in t.read().collect()}


def test_compound_lww_upsert_delete(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, PAYLOAD, key=["k1", "k2"], n_buckets=4
    )
    assert t.key_cols == ["k1", "k2"]
    t.merge_into(
        _changes(
            spark,
            [
                (1, "I", "a", 1, 10),
                (2, "I", "a", 2, 20),  # same k1, different k2 — distinct row
                (3, "U", "a", 1, 11),  # same tuple: LWW
                (4, "I", "b", 1, 40),
            ],
        ),
        app_id="c",
        epoch=0,
    )
    assert _state(t) == {("a", 1): 11, ("a", 2): 20, ("b", 1): 40}
    t.merge_into(
        _changes(spark, [(5, "D", "a", 2, None), (6, "U", "b", 1, 41)]),
        app_id="c",
        epoch=1,
    )
    assert _state(t) == {("a", 1): 11, ("b", 1): 41}


def test_compound_lookup_pruned(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, PAYLOAD, key=["k1", "k2"], n_buckets=8
    )
    rows = [(i, "I", f"k{i % 5}", i % 3, i * 100) for i in range(1, 31)]
    t.merge_into(_changes(spark, rows), app_id="c", epoch=0)
    got = t.lookup(("k1", 1)).collect()
    # LWW winner for tuple (k1, 1): highest lsn i with i%5==1 and i%3==1
    want_lsn = max(i for i in range(1, 31) if i % 5 == 1 and i % 3 == 1)
    assert [(r["k1"], r["k2"], r["val"]) for r in got] == [
        ("k1", 1, want_lsn * 100)
    ]
    with pytest.raises(ValueError):
        t.lookup("k1")  # one value for a two-column key


def test_single_element_list_normalizes(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, PAYLOAD, key=["k1"], n_buckets=2
    )
    assert t.key == "k1"  # manifest stays scalar for the common case
    assert t.key_cols == ["k1"]


def test_create_rejects_missing_key_column(spark, tmp_table_dir):
    with pytest.raises(ValueError, match="key column"):
        LakeTable.create(
            spark, tmp_table_dir, PAYLOAD, key=["k1", "nope"], n_buckets=2
        )


FEED = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("table_name", StringType(), False),
        StructField("op", StringType(), False),
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
    ]
)


def _feed(spark, rows):
    return spark.createDataFrame(
        [
            (l, t, o, a, b, [1] * n if n is not None else None, n)
            for l, t, o, a, b, n in rows
        ],
        FEED,
    )


def test_merge_many_compound_and_replay_idempotent(spark, tmp_path):
    """Fast-path multi-table merge keyed on (k1, k2), then a crash-replay
    of the same epoch must be a ledger no-op (kill/resume semantics)."""
    wh = str(tmp_path / "wh")
    b0 = _feed(
        spark,
        [
            (1, "ta", "I", "x", 1, 2),
            (2, "ta", "I", "x", 2, 3),
            (3, "ta", "U", "x", 1, 4),  # LWW within batch on the tuple
            (4, "tb", "I", "y", 1, 5),
        ],
    )
    r0 = apply_cdc_batch(
        spark, b0, wh, epoch=0, app_id="cpk", n_buckets=4,
        key_col=["k1", "k2"],
    )
    assert sorted(r0["tables"]) == ["ta", "tb"]

    b1 = _feed(spark, [(5, "ta", "D", "x", 2, None), (6, "tb", "U", "y", 1, 7)])
    apply_cdc_batch(
        spark, b1, wh, epoch=1, app_id="cpk", n_buckets=4,
        key_col=["k1", "k2"],
    )

    # crash replay of epoch 1: every table's ledger must skip
    r1b = apply_cdc_batch(
        spark, b1, wh, epoch=1, app_id="cpk", n_buckets=4,
        key_col=["k1", "k2"],
    )
    assert all(m.get("skipped") for m in r1b["tables"].values())

    ta = LakeTable(spark, os.path.join(wh, "ta"))
    assert ta.key_cols == ["k1", "k2"]
    state = {
        (r["k1"], r["k2"]): r["n_tok"] for r in ta.read().collect()
    }
    assert state == {("x", 1): 4}
    tb = LakeTable(spark, os.path.join(wh, "tb"))
    assert {(r["k1"], r["k2"]): r["n_tok"] for r in tb.read().collect()} == {
        ("y", 1): 7
    }
    # write-side bucketing matches the table layout: point lookup through
    # the bucket-pruned path finds the row
    assert ta.lookup(("x", 1)).count() == 1


def test_create_rejects_empty_key(spark, tmp_table_dir):
    with pytest.raises(ValueError, match="at least one column"):
        LakeTable.create(spark, tmp_table_dir, PAYLOAD, key=[], n_buckets=2)
    # nothing half-created on disk
    assert not LakeTable.exists(tmp_table_dir)


def test_merge_refuses_key_order_mismatch(spark, tmp_path):
    """A batch bucketed on a reordered key tuple must be refused — the
    bucket hash is order-sensitive, so committing it would corrupt the
    table layout silently."""
    wh = str(tmp_path / "wh")
    b0 = _feed(spark, [(1, "ta", "I", "x", 1, 2)])
    apply_cdc_batch(
        spark, b0, wh, epoch=0, app_id="kg", n_buckets=4, key_col=["k1", "k2"]
    )
    b1 = _feed(spark, [(2, "ta", "U", "x", 1, 3)])
    with pytest.raises(Exception, match="key"):
        apply_cdc_batch(
            spark, b1, wh, epoch=1, app_id="kg", n_buckets=4,
            key_col=["k2", "k1"], error_mode="fail",
        )
    # table state untouched by the refused batch
    ta = LakeTable(spark, os.path.join(wh, "ta"))
    assert {r["n_tok"] for r in ta.read().collect()} == {2}
