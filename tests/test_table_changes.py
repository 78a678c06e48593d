"""Change data feed (``LakeTable.table_changes``): the net per-key
changes between two snapshots — CDC OUT of the lakehouse (Iceberg
incremental read / Delta CDF analog).

Oracle: brute-force state diff — materialize ``read(version=v0)`` and
``read(version=v1)`` and compare; the CDF must equal it exactly while
structurally reading only the range's added delta files plus the
touched buckets of the v0 snapshot (asserted via ``_mtp_cdf_info``).
"""

import os

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
from multi_table_plugins_spark.streaming.lineage import LineageLog

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


def _apply(spark, t, rows, epoch):
    t.merge_into(
        spark.createDataFrame(rows, CH), app_id="cdf", epoch=epoch
    )


def _state(t, version):
    return {
        r["doc_id"]: (r["tokens"], r["source"])
        for r in t.read(version=version, with_lsn=True).collect()
    }


def _lsns(t, version):
    return {
        r["doc_id"]: r["_lsn"]
        for r in t.read(version=version, with_lsn=True).collect()
    }


def _expected_diff(t, v0, v1):
    """Brute-force oracle: diff the two materialized snapshots."""
    s0, s1 = _state(t, v0), _state(t, v1)
    l0, l1 = _lsns(t, v0), _lsns(t, v1)
    out = {}
    for k in s1:
        if k not in s0:
            out[k] = ("insert", s1[k], l1[k])
        elif l1[k] != l0[k]:
            out[k] = ("update", s1[k], l1[k])
    for k in s0:
        if k not in s1:
            out[k] = ("delete", s0[k], None)  # lsn checked separately
    return out


def _got_diff(df):
    return {
        r["doc_id"]: (
            r["change_type"],
            (r["tokens"], r["source"]),
            r["change_lsn"],
        )
        for r in df.collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=8
    )
    # epoch 0: keys 0..59 inserted
    _apply(spark, t, [(i, "I", i, [i], "s") for i in range(60)], 0)
    return t


def test_cdf_insert_update_delete_net(spark, table):
    v0 = table.manifest()["version"]
    # epoch 1: update 5 keys, delete 3, insert 4 new
    rows = (
        [(1000 + k, "U", k, [99, k], "s2") for k in range(5)]
        + [(2000 + k, "D", 10 + k, None, None) for k in range(3)]
        + [(3000 + k, "I", 100 + k, [k], "s") for k in range(4)]
    )
    _apply(spark, table, rows, 1)
    v1 = table.manifest()["version"]

    df = table.table_changes(v0, v1)
    got = _got_diff(df)
    exp = _expected_diff(table, v0, v1)
    assert {k: v[0] for k, v in got.items()} == {
        k: v[0] for k, v in exp.items()
    }
    for k, (ct, payload, lsn) in exp.items():
        assert got[k][1] == payload, k
        if ct != "delete":
            assert got[k][2] == lsn, k
    # deletes carry the tombstone's lsn
    for k in (10, 11, 12):
        assert got[k][0] == "delete" and got[k][2] >= 2000

    info = df._mtp_cdf_info
    assert info["delta_files_read"] >= 1
    assert 0 < info["buckets_read"] <= info["buckets_total"]


def test_cdf_reads_only_touched_buckets(spark, table):
    v0 = table.manifest()["version"]
    # one single-key change touches exactly one bucket of 8
    _apply(spark, table, [(5000, "U", 7, [7, 7], "s")], 1)
    df = table.table_changes(v0)
    assert _got_diff(df) == {7: ("update", ([7, 7], "s"), 5000)}
    info = df._mtp_cdf_info
    assert info["buckets_read"] == 1 and info["buckets_total"] == 8


def test_cdf_net_semantics_collapse_within_range(spark, table):
    """Insert+delete of the same key inside the range nets to nothing;
    multiple updates net to the last one."""
    v0 = table.manifest()["version"]
    _apply(spark, table, [(6000, "I", 500, [1], "s")], 1)
    _apply(spark, table, [(6001, "D", 500, None, None)], 2)
    _apply(spark, table, [(6002, "U", 3, [30], "s"), (6003, "U", 3, [31], "s")], 3)
    df = table.table_changes(v0)
    got = _got_diff(df)
    assert 500 not in got  # dead -> dead
    assert got[3] == ("update", ([31], "s"), 6003)


def test_cdf_late_lower_lsn_replay_is_not_a_change(spark, table):
    """A range delta that LOSES LWW to the v0 state produces no row."""
    v0 = table.manifest()["version"]
    # key 9 was written with lsn 9; replay an older lsn 5 "update"
    _apply(spark, table, [(5, "U", 9, [5, 5], "old")], 1)
    df = table.table_changes(v0)
    assert _got_diff(df) == {}


def test_cdf_delete_then_reinsert_across_range_is_insert(spark, table):
    _apply(spark, table, [(7000, "D", 4, None, None)], 1)
    v0 = table.manifest()["version"]  # key 4 dead at v0
    _apply(spark, table, [(7001, "I", 4, [44], "s")], 2)
    got = _got_diff(table.table_changes(v0))
    assert got[4] == ("insert", ([44], "s"), 7001)


def test_cdf_compaction_only_range_is_empty(spark, table):
    v0 = table.manifest()["version"]
    table.compact()
    df = table.table_changes(v0)
    assert df.count() == 0
    assert df._mtp_cdf_info["delta_files_read"] == 0


def test_cdf_survives_compaction_inside_range(spark, table):
    """Deltas added then compacted away before v_to must still be seen
    (the per-version diff catches them in the intermediate manifest)."""
    v0 = table.manifest()["version"]
    _apply(spark, table, [(8000, "U", 2, [22], "s")], 1)
    table.compact()  # folds the delta into base
    v1 = table.manifest()["version"]
    got = _got_diff(table.table_changes(v0, v1))
    assert got[2] == ("update", ([22], "s"), 8000)


def test_cdf_empty_range_and_bad_range(table):
    v = table.manifest()["version"]
    assert table.table_changes(v, v).count() == 0
    with pytest.raises(ValueError, match="invalid change range"):
        table.table_changes(v + 1)
    with pytest.raises(ValueError, match="invalid change range"):
        table.table_changes(3, 1)


def test_cdf_from_version_zero_is_all_inserts(table):
    got = _got_diff(table.table_changes(0))
    assert len(got) == 60
    assert all(v[0] == "insert" for v in got.values())


# ---------------------------------------------------------------------------
# a commit whose sidecar fails to write lands, is recorded, and the feed
# falls back to the manifest diff
# ---------------------------------------------------------------------------

_RANGE = (
    [(1000 + k, "U", k, [99, k], "s2") for k in range(3)]
    + [(2000, "D", 10, None, None)]
    + [(3000, "I", 100, [1], "s")]
)


def _fail_sidecars(monkeypatch, io):
    real = io.publish_atomic

    def publish(path, data):
        if os.path.basename(path).startswith("commit-"):
            raise OSError("injected sidecar write failure")
        return real(path, data)

    monkeypatch.setattr(io, "publish_atomic", publish)


def _assert_recorded_and_diffed(table, v0, v1):
    recs = [
        r
        for r in LineageLog(os.path.dirname(table.path)).read()
        if r["kind"] == "degraded"
    ]
    assert len(recs) == 1, recs
    assert recs[0]["site"] == "commit_sidecar"
    assert recs[0]["table"] == os.path.basename(table.path)
    assert recs[0]["version"] == v1
    assert "injected sidecar write failure" in recs[0]["error"]
    assert table._load_commit_log(v1) is None  # the diff fallback serves v1
    got = _got_diff(table.table_changes(v0, v1))
    exp = _expected_diff(table, v0, v1)
    assert {k: v[0] for k, v in got.items()} == {k: v[0] for k, v in exp.items()}
    for k, (_ct, payload, _lsn) in exp.items():
        assert got[k][1] == payload, k


def test_commit_sidecar_failure_is_recorded(spark, table, monkeypatch):
    v0 = table.manifest()["version"]
    _fail_sidecars(monkeypatch, table.io)
    _apply(spark, table, _RANGE, 1)
    monkeypatch.undo()
    v1 = table.manifest()["version"]
    assert v1 == v0 + 1  # the commit landed
    assert table.last_committed_epoch("cdf") == 1
    _assert_recorded_and_diffed(table, v0, v1)


def test_fast_forward_sidecar_failure_is_recorded(spark, table, monkeypatch):
    v0 = table.manifest()["version"]
    table.create_branch("wap")
    _apply(spark, table.branch_of("wap"), _RANGE, 1)
    _fail_sidecars(monkeypatch, table.io)
    out = table.fast_forward("wap")
    monkeypatch.undo()
    v1 = table.manifest()["version"]
    assert out["published_versions"] == [v1] and v1 == v0 + 1
    _assert_recorded_and_diffed(table, v0, v1)
