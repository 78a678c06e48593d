"""Incremental aggregate-view maintenance (``lakehouse.rollup``).

Oracle: after every refresh, the maintained view must equal a full
GROUP BY recompute over the source's current live rows — for arbitrary
insert/update/delete interleavings, including group-moving updates
(the case a net-only change feed cannot maintain). Also covers the
``table_changes(include_old=True)`` extension it builds on.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multi_table_plugins_spark.lakehouse import LakeTable, refresh_rollup

SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("grp", StringType(), True),
        StructField("val", LongType(), True),
    ]
)
CH = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("grp", StringType(), True),
        StructField("val", LongType(), True),
    ]
)


def _apply(spark, t, rows, epoch):
    t.merge_into(spark.createDataFrame(rows, CH), app_id="src", epoch=epoch)


def _recompute(t):
    """Brute-force oracle: full GROUP BY over the source's live rows."""
    return {
        r["grp"]: (r["s"], r["c"])
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.sum(F.coalesce(F.col("val"), F.lit(0))).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    }


def _view_state(spark, view_path):
    return {
        r["grp"]: (r["sum_val"], r["row_count"])
        for r in LakeTable(spark, view_path).read().collect()
    }


def test_initial_build_then_incremental_refreshes(spark, tmp_path):
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=4)
    _apply(
        spark,
        t,
        [(i, "I", i, f"g{i % 3}", i * 10) for i in range(30)],
        0,
    )
    r = refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=4)
    assert r["refreshed"] and r["v_from"] == 0
    assert _view_state(spark, view_p) == _recompute(t)

    # incremental: updates (some group-moving), deletes, inserts
    _apply(
        spark,
        t,
        [(100 + k, "U", k, f"g{(k + 1) % 3}", k * 100) for k in range(5)]
        + [(200 + k, "D", 10 + k, None, None) for k in range(3)]
        + [(300 + k, "I", 100 + k, "g9", 7) for k in range(4)],
        1,
    )
    r2 = refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=4)
    assert r2["refreshed"] and r2["v_from"] == r["v_to"]
    assert _view_state(spark, view_p) == _recompute(t)


def test_refresh_is_idempotent_and_noop_when_current(spark, tmp_path):
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, "g", i) for i in range(10)], 0)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    before = _view_state(spark, view_p)
    r = refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    assert not r["refreshed"]  # source unchanged → ledger no-op
    assert _view_state(spark, view_p) == before == _recompute(t)


def test_group_emptied_by_deletes_disappears(spark, tmp_path):
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, "a", 5), (2, "I", 2, "b", 6)], 0)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    _apply(spark, t, [(10, "D", 1, None, None)], 1)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    got = _view_state(spark, view_p)
    assert got == {"b": (6, 1)} == _recompute(t)
    # the emptied group is a real tombstone, not a zero row
    assert "a" not in got


def test_group_move_update_is_exact(spark, tmp_path):
    """An update that changes the GROUP column must subtract from the
    old group and add to the new one — the differential case that
    needs include_old."""
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, "a", 5), (2, "I", 2, "a", 7)], 0)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    _apply(spark, t, [(10, "U", 1, "b", 50)], 1)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    assert _view_state(spark, view_p) == {
        "a": (7, 1),
        "b": (50, 1),
    } == _recompute(t)


def test_validation_errors(spark, tmp_path):
    src_p = str(tmp_path / "src")
    LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    with pytest.raises(ValueError, match="at least one column"):
        refresh_rollup(spark, src_p, str(tmp_path / "v1"), [], ["val"])
    with pytest.raises(ValueError, match="not in source schema"):
        refresh_rollup(spark, src_p, str(tmp_path / "v2"), ["nope"], ["val"])
    with pytest.raises(ValueError, match="grouped and summed"):
        refresh_rollup(spark, src_p, str(tmp_path / "v3"), ["val"], ["val"])
    with pytest.raises(ValueError, match="non-numeric"):
        refresh_rollup(spark, src_p, str(tmp_path / "v4"), ["doc_id"], ["grp"])


def test_double_sums_supported(spark, tmp_path):
    sch = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("grp", StringType(), True),
            StructField("x", DoubleType(), True),
        ]
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("doc_id", LongType(), False),
            StructField("grp", StringType(), True),
            StructField("x", DoubleType(), True),
        ]
    )
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, sch, key="doc_id", n_buckets=2)
    t.merge_into(
        spark.createDataFrame(
            [(i, "I", i, "g", float(i) / 2) for i in range(8)], ch
        ),
        app_id="src",
        epoch=0,
    )
    refresh_rollup(spark, src_p, view_p, ["grp"], ["x"], n_buckets=2)
    got = _view_state_x(spark, view_p)
    assert got == {"g": (pytest.approx(sum(i / 2 for i in range(8))), 8)}


def _view_state_x(spark, view_path):
    return {
        r["grp"]: (r["sum_x"], r["row_count"])
        for r in LakeTable(spark, view_path).read().collect()
    }


def test_table_changes_include_old_values(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2
    )
    _apply(spark, t, [(1, "I", 1, "a", 5), (2, "I", 2, "b", 6)], 0)
    v0 = t.manifest()["version"]
    _apply(
        spark,
        t,
        [(10, "U", 1, "c", 50), (11, "D", 2, None, None), (12, "I", 3, "d", 7)],
        1,
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in t.table_changes(v0, include_old=True).collect()
    }
    u = got[1]
    assert (u["change_type"], u["grp"], u["val"]) == ("update", "c", 50)
    assert (u["old_grp"], u["old_val"], u["old_lsn"]) == ("a", 5, 1)
    d = got[2]
    assert (d["change_type"], d["old_grp"], d["old_val"]) == ("delete", "b", 6)
    i = got[3]
    assert (i["change_type"], i["old_grp"], i["old_val"], i["old_lsn"]) == (
        "insert",
        None,
        None,
        None,
    )
    # without the flag the schema is unchanged (no old_ columns)
    plain = t.table_changes(v0)
    assert not [c for c in plain.columns if c.startswith("old_")]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 7),    # doc_id
            st.integers(0, 2),    # group index
            st.integers(-5, 50),  # value
            st.sampled_from(["I", "U", "D"]),
        ),
        min_size=1,
        max_size=24,
    ),
    st.integers(1, 3),  # number of refresh points
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_rollup_equals_recompute_on_any_history(spark, tmp_path_factory, evs, cuts):
    """Property: for ANY event interleaving, refreshing at arbitrary
    points always converges the view to the full GROUP BY recompute."""
    base = tmp_path_factory.mktemp("ivm")
    src_p, view_p = str(base / "src"), str(base / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    rows = [
        (lsn, op, doc, f"g{gi}" if op != "D" else None,
         val if op != "D" else None)
        for lsn, (doc, gi, val, op) in enumerate(evs)
    ]
    step = max(1, len(rows) // cuts)
    for epoch, start in enumerate(range(0, len(rows), step)):
        _apply(spark, t, rows[start : start + step], epoch)
        refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    assert _view_state(spark, view_p) == _recompute(t)


def test_null_group_values_maintained_exactly(spark, tmp_path):
    """SQL GROUP BY collects NULL group values into one group; the
    view join-back must be null-safe or the stored NULL-group row is
    never matched and its aggregates silently reset to the delta."""
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(
        spark,
        t,
        [(1, "I", 1, None, 10), (2, "I", 2, None, 20), (3, "I", 3, "g", 1)],
        0,
    )
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    _apply(spark, t, [(10, "I", 4, None, 5)], 1)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    assert _view_state(spark, view_p) == _recompute(t)
    assert _view_state(spark, view_p)[None] == (35, 3)


def test_group_and_sum_by_source_key_column(spark, tmp_path):
    """Key columns never appear as old_<col> in the change feed (they
    are immutable per key) — grouping/summing by one must still work."""
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, f"g{i % 2}", i) for i in range(6)], 0)
    refresh_rollup(
        spark, src_p, view_p, ["doc_id"], ["val"], n_buckets=2
    )
    _apply(spark, t, [(10, "U", 2, "gX", 100), (11, "D", 3, None, None)], 1)
    refresh_rollup(
        spark, src_p, view_p, ["doc_id"], ["val"], n_buckets=2
    )
    got = {
        r["doc_id"]: (r["sum_val"], r["row_count"])
        for r in LakeTable(spark, view_p).read().collect()
    }
    want = {
        r["doc_id"]: (r["s"], r["c"])
        for r in t.read()
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("val"), F.lit(0))).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    }
    assert got == want and 3 not in got and got[2] == (100, 1)


def test_concurrent_duplicate_refresh_is_noop_not_hang(
    spark, tmp_path, monkeypatch
):
    """If a concurrent refresher wins the epoch race, merge_into
    returns skipped before any action runs on the observed batch —
    refresh must return a no-op instead of blocking on obs.get."""
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, "g", 5)], 0)

    monkeypatch.setattr(
        LakeTable,
        "merge_into",
        lambda self, *a, **kw: {"skipped": True, "snapshot_id": "raced"},
    )
    r = refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    assert r == {
        "refreshed": False,
        "v_from": 0,
        "v_to": t.manifest()["version"],
        "groups_changed": 0,
        "snapshot_id": "raced",
    }


def test_racing_refreshers_never_double_apply(spark, tmp_path, monkeypatch):
    """Two refreshers racing the same change range: the loser's merge
    is pinned to the view version its state was read at, conflicts, and
    recomputes — the view never counts a change range twice."""
    src_p, view_p = str(tmp_path / "src"), str(tmp_path / "view")
    t = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, "g", 10) for i in range(4)], 0)
    refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    _apply(spark, t, [(10, "I", 100, "g", 10)], 1)

    # simulate the race: when OUR refresh reaches its merge, a rival
    # refresher has already applied the same change range
    orig_merge = LakeTable.merge_into
    fired = {"n": 0}

    def racing_merge(self, *a, **kw):
        if fired["n"] == 0 and self.path == view_p:
            fired["n"] += 1
            # rival completes the identical refresh first (fresh handles)
            refresh_rollup(
                spark, src_p, view_p + "", ["grp"], ["val"], n_buckets=2
            )
        return orig_merge(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge_into", racing_merge)
    r = refresh_rollup(spark, src_p, view_p, ["grp"], ["val"], n_buckets=2)
    monkeypatch.setattr(LakeTable, "merge_into", orig_merge)
    # our refresh observed the rival's ledger advance and no-opped (or
    # recomputed to the identical state) — never a double count
    assert _view_state(spark, view_p) == _recompute(t) == {"g": (50, 5)}
    assert fired["n"] == 1
