"""Predicate DML — ``delete_where`` / ``update_where``.

DML statements are synthesized change events applied through the normal
``merge_into`` path, so the contracts under test are:

  * final state equals the brute-force read-filter-rewrite;
  * key-range DML plans its read through manifest file pruning;
  * the change feed emits the DML rows like any other change, so
    replicas and rollups converge;
  * later (higher-LSN) source events outrank a predicate delete —
    CDC-correct resurrection;
  * CHECK constraints veto updates on the stored rows;
  * a concurrent writer between the DML read and its commit forces a
    retry against the new state — never a lost or doubly-applied row.
"""

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
from multi_table_plugins_spark.lakehouse.table import (
    CommitConflict,
    ConstraintViolation,
)
from tests.test_lakehouse import unreferenced_data_files

SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)
CH = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
)


def _mk(spark, path, rows, n_buckets=2, **kw):
    t = LakeTable.create(
        spark, path, SCHEMA, key="doc_id", n_buckets=n_buckets, **kw
    )
    t.merge_into(
        spark.createDataFrame(
            [(i + 1, "I", d, toks, len(toks), src) for i, (d, toks, src) in enumerate(rows)],
            CH,
        ),
        app_id="feed",
        epoch=0,
    )
    return t


ROWS = [
    (1, [1, 2], "web"),
    (2, [3], "web"),
    (3, [4, 5, 6], "book"),
    (4, [7], "book"),
    (5, [8, 9], "code"),
]


def _state(t):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in t.read().collect()
    }


def test_delete_where_payload_predicate(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    res = t.delete_where([("source", "=", "book")])
    assert res["op"] == "delete" and res["rows_applied"] == 2
    assert sorted(_state(t)) == [1, 2, 5]
    # idempotent: nothing left to match, nothing committed
    v = t.manifest()["version"]
    res2 = t.delete_where([("source", "=", "book")])
    assert res2["rows_applied"] == 0 and t.manifest()["version"] == v


def test_delete_tombstones_carry_no_payload(spark, tmp_path):
    """The delete marker must not store the deleted data (erasure)."""
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    t.delete_where([("doc_id", "=", 3)])
    dead = (
        t._scan(include_tombstones=True)
        .filter(F.col("doc_id") == 3)
        .orderBy(F.desc("_lsn"))
        .first()
    )
    assert dead["_deleted"] is True
    assert dead["tokens"] is None and dead["source"] is None


def test_delete_where_key_range_prunes_files(spark, tmp_path):
    """Contiguous-range merges then a key-range delete: the planning
    read must skip files whose key interval cannot match."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=1
    )
    for e, lo in enumerate(range(0, 400, 100)):
        t.merge_into(
            spark.createDataFrame(
                [(lo + i, "I", lo + i, [i], 1, "s") for i in range(100)], CH
            ),
            app_id="feed",
            epoch=e,
        )
    res = t.delete_where([("doc_id", ">=", 300)])
    assert res["rows_applied"] == 100
    assert res["scan"]["files_read"] < res["scan"]["files_total"]
    assert t.read().count() == 300


def test_dml_flows_through_change_feed_and_replica_converges(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    v0 = t.manifest()["version"]
    t.delete_where([("source", "=", "web")])
    t.update_where([("doc_id", "=", 5)], {"source": "corpus"})
    ch = {
        r["doc_id"]: r["change_type"]
        for r in t.table_changes(v0).collect()
    }
    assert ch == {1: "delete", 2: "delete", 5: "update"}
    # a downstream copy applying the feed converges to the same state
    dst = LakeTable.create(
        spark, str(tmp_path / "dst"), SCHEMA, key="doc_id", n_buckets=2
    )
    feed = t.table_changes(0).select(
        F.col("change_lsn").alias("lsn"),
        F.when(F.col("change_type") == "delete", "D")
        .otherwise("U")
        .alias("op"),
        "doc_id",
        "tokens",
        "n_tok",
        "source",
    )
    dst.merge_into(feed, app_id="repl", epoch=0)
    assert _state(dst) == _state(t)


def test_later_source_event_resurrects_deleted_row(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    t.delete_where([("doc_id", "=", 2)])
    # the source moves on: a higher-LSN update re-creates the row
    t.merge_into(
        spark.createDataFrame([(10_000, "U", 2, [42], 1, "web2")], CH),
        app_id="feed",
        epoch=1,
    )
    assert _state(t)[2] == ([42], 1, "web2")


def test_update_where_literals_and_expressions(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    res = t.update_where(
        [("source", "=", "web")],
        {"source": "crawl", "n_tok": F.col("n_tok") + 10},
    )
    assert res["op"] == "update" and res["rows_applied"] == 2
    st = _state(t)
    assert st[1] == ([1, 2], 12, "crawl") and st[2] == ([3], 11, "crawl")
    # untouched rows unchanged
    assert st[3] == ([4, 5, 6], 3, "book")


def test_update_where_rejects_bad_assignments(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    with pytest.raises(ValueError, match="key column"):
        t.update_where([("source", "=", "web")], {"doc_id": 9})
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where([("source", "=", "web")], {"nope": 1})
    with pytest.raises(ValueError, match="assignment"):
        t.update_where([("source", "=", "web")], {})
    with pytest.raises(ValueError, match="predicate"):
        t.update_where([], {"source": "x"})
    with pytest.raises(ValueError, match="predicate"):
        t.delete_where([])


def test_update_where_enforces_check_constraints(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), ROWS)
    t.add_constraint("tok_pos", "n_tok > 0")
    before = _state(t)
    with pytest.raises(ConstraintViolation):
        t.update_where([("source", "=", "web")], {"n_tok": -1})
    assert _state(t) == before  # nothing written


def test_dml_retries_past_concurrent_writer(spark, tmp_path, monkeypatch):
    """A feed commit landing between the DML read and its publish must
    trigger a re-read: the delete applies against the NEW state, so a
    row the concurrent writer just flipped into the predicate is
    deleted and one it flipped out survives."""
    p = str(tmp_path / "t")
    t = _mk(spark, p, ROWS)
    other = LakeTable(spark, p)
    fired = {"n": 0}
    orig = t._write_data_files

    def hooked(df, version, tag):
        if fired["n"] == 0:
            fired["n"] += 1
            other.merge_into(
                spark.createDataFrame(
                    [
                        (100, "U", 2, [3], 1, "book"),  # web -> book
                        (101, "U", 3, [4], 1, "web"),  # book -> web
                    ],
                    CH,
                ),
                app_id="other",
                epoch=0,
            )
        return orig(df, version, tag)

    monkeypatch.setattr(t, "_write_data_files", hooked)
    res = t.delete_where([("source", "=", "book")])
    assert fired["n"] == 1  # the conflict actually happened
    assert res["rows_applied"] == 2  # doc 2 (now book) + doc 4
    assert sorted(_state(t)) == [1, 3, 5]


def test_dml_raises_after_persistent_conflicts(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    t = _mk(spark, p, ROWS)
    other = LakeTable(spark, p)
    fired = {"n": 0}
    orig = t._write_data_files

    def always_conflict(df, version, tag):
        fired["n"] += 1
        other.merge_into(
            spark.createDataFrame(
                [(1000 + fired["n"], "U", 1, [1], 1, "web")], CH
            ),
            app_id="other",
            epoch=fired["n"],
        )
        return orig(df, version, tag)

    monkeypatch.setattr(t, "_write_data_files", always_conflict)
    with pytest.raises(CommitConflict):
        t.delete_where([("source", "=", "web")])
    # every losing attempt's delta run was discarded
    assert unreferenced_data_files(t) == set()


def test_dml_brute_force_equivalence_compound_key(spark, tmp_path):
    """Compound-PK table: delete+update under predicates equals the
    read-filter-rewrite done by hand."""
    sch = StructType(
        [
            StructField("a", LongType(), False),
            StructField("b", StringType(), False),
            StructField("v", IntegerType(), True),
        ]
    )
    chs = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("a", LongType(), False),
            StructField("b", StringType(), False),
            StructField("v", IntegerType(), True),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), sch, key=["a", "b"], n_buckets=2
    )
    rows = [(i % 4, f"k{i % 3}", i) for i in range(12)]
    t.merge_into(
        spark.createDataFrame(
            [(i + 1, "I", a, b, v) for i, (a, b, v) in enumerate(rows)], chs
        ),
        app_id="feed",
        epoch=0,
    )
    snapshot = {(r["a"], r["b"]): r["v"] for r in t.read().collect()}
    t.delete_where([("v", ">=", 9)])
    t.update_where([("a", "=", 1)], {"v": F.col("v") * 100})
    want = {
        k: (v * 100 if k[0] == 1 else v)
        for k, v in snapshot.items()
        if v < 9
    }
    got = {(r["a"], r["b"]): r["v"] for r in t.read().collect()}
    assert got == want
