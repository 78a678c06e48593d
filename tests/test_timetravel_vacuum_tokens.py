import os

import pytest

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.schemas import TARGET_SCHEMA
from tests.test_lakehouse import _changes, _state


def test_time_travel_read(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="tt", epoch=0)
    v1 = t.manifest()["version"]
    t.merge_into(_changes(spark, [(2, "U", "a", [2]), (3, "I", "b", [3])]), app_id="tt", epoch=1)
    # latest
    assert _state(t) == {"a": [2], "b": [3]}
    # as-of v1
    old = {r["doc_id"]: r["tokens"] for r in t.read(version=v1).collect()}
    assert old == {"a": [1]}
    assert v1 in t.versions()


def test_vacuum_tombstones(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1]), (2, "I", "b", [2])]), app_id="v", epoch=0)
    t.merge_into(_changes(spark, [(5, "D", "a", None)]), app_id="v", epoch=1)
    assert t._scan(include_tombstones=True).count() == 2
    # watermark below the tombstone lsn → kept
    t.vacuum_tombstones(lsn_watermark=5)
    assert t._scan(include_tombstones=True).count() == 2
    # watermark past it → physically dropped; live state unchanged
    r = t.vacuum_tombstones(lsn_watermark=6)
    assert r["vacuumed"] == 1
    assert t._scan(include_tombstones=True).count() == 1
    assert _state(t) == {"b": [2]}


def test_expire_snapshots(spark, tmp_table_dir):
    import glob
    import os
    import time

    import pytest

    t = LakeTable.create(
        spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2, compact_threshold=2
    )
    for e in range(4):  # several epochs; threshold-2 triggers compactions
        t.merge_into(
            _changes(spark, [(e * 10 + 1, "U", "a", [e]), (e * 10 + 2, "U", "b", [e])]),
            app_id="ex",
            epoch=e,
        )
    versions = t.versions()
    assert len(versions) >= 4
    files_before = len(glob.glob(os.path.join(tmp_table_dir, "data", "**", "*.parquet"), recursive=True))
    keep_from = versions[-2]

    r = t.expire_snapshots(keep_last=2)
    assert r["expired_manifests"] == len(versions) - 2
    assert r["kept_versions"] == versions[-2:]
    # live state untouched; time travel to a KEPT version still works
    assert _state(t) == {"a": [3], "b": [3]}
    t.read(version=keep_from).count()
    # ...but an EXPIRED version is gone for good
    with pytest.raises(FileNotFoundError):
        t.manifest(version=versions[0])
    # superseded files physically deleted
    files_after = len(glob.glob(os.path.join(tmp_table_dir, "data", "**", "*.parquet"), recursive=True))
    assert r["deleted_files"] > 0 and files_after < files_before

    # orphan GC: an unreferenced stray parquet is removed once stale
    stray_dir = os.path.join(tmp_table_dir, "data", "stray")
    os.makedirs(stray_dir)
    stray = os.path.join(stray_dir, "orphan.parquet")
    open(stray, "wb").write(b"junk")
    r2 = t.expire_snapshots(keep_last=1, remove_orphans=True, orphan_grace_seconds=3600)
    assert r2["orphans_deleted"] == 0 and os.path.exists(stray)  # inside grace
    os.utime(stray, (time.time() - 7200, time.time() - 7200))
    r3 = t.expire_snapshots(keep_last=1, remove_orphans=True, orphan_grace_seconds=3600)
    assert r3["orphans_deleted"] == 1 and not os.path.exists(stray)
    assert _state(t) == {"a": [3], "b": [3]}

    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_timestamp_time_travel(spark, tmp_table_dir):
    import pytest

    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="ts", epoch=0)
    ts_v1 = t.manifest()["ts"]
    t.merge_into(_changes(spark, [(2, "U", "a", [2])]), app_id="ts", epoch=1)

    # as-of the v1 commit instant: the old state
    old = {r["doc_id"]: r["tokens"] for r in t.read(as_of=ts_v1).collect()}
    assert old == {"a": [1]}
    # as-of now: the latest state; datetimes accepted too
    from datetime import datetime, timezone

    now = datetime.now(timezone.utc)
    assert {r["doc_id"]: r["tokens"] for r in t.read(as_of=now).collect()} == {
        "a": [2]
    }
    # before the table existed: loud lookup error
    with pytest.raises(LookupError):
        t.read(as_of=0.0)
    with pytest.raises(ValueError):
        t.read(version=1, as_of=ts_v1)


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


def _tombstoned(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t.merge_into(_changes(spark, [(1, "I", "a", [1]), (2, "I", "b", [2])]), app_id="v", epoch=0)
    t.merge_into(_changes(spark, [(5, "D", "a", None), (6, "U", "b", [3])]), app_id="v", epoch=1)
    return t


def test_vacuum_is_one_job_and_one_commit(spark, tmp_table_dir, monkeypatch):
    """vacuum_tombstones folds deltas and drops old tombstones in the
    same rewrite: one parquet write, one published version, one base
    run with no deltas left."""
    from tests.test_lakehouse import _count_parquet_writes, unreferenced_data_files

    t = _tombstoned(spark, tmp_table_dir)
    v0 = t.manifest()["version"]
    writes = _count_parquet_writes(monkeypatch)
    assert t.vacuum_tombstones(lsn_watermark=10) == {"vacuumed": 1}
    assert writes["writes"] == 1
    m = t.manifest()
    assert m["version"] == v0 + 1 and m["op"] == "vacuum-tombstones"
    assert all(not b["delta"] for b in m["buckets"].values())
    assert len({os.path.dirname(os.path.dirname(e["path"]))
                for b in m["buckets"].values() for e in b["base"]}) == 1
    assert t._scan(include_tombstones=True).count() == 1
    assert _state(t) == {"b": [3]}
    assert unreferenced_data_files(t, t.versions()) == set()


@pytest.mark.parametrize(
    "op, run",
    [
        ("vacuum-tombstones", lambda t: t.vacuum_tombstones(lsn_watermark=10)),
        ("rebucket", lambda t: t.rebucket(4)),
        ("compact", lambda t: t.compact(cluster=True)),
    ],
)
def test_lost_rewrite_publishes_nothing_and_leaves_no_run(
    spark, tmp_table_dir, monkeypatch, op, run
):
    """Each user of the one per-table rewrite, losing the version race
    on its own publish, raises, publishes nothing and deletes its run."""
    from multi_table_plugins_spark.lakehouse import CommitConflict
    from tests.test_lakehouse import unreferenced_data_files

    t = _tombstoned(spark, tmp_table_dir)
    versions = t.versions()
    real = LakeTable._publish
    lose = {"n": 1}

    def publish(self, manifest, added=None):
        if manifest["op"] == op and lose["n"]:
            lose["n"] -= 1
            raise CommitConflict("injected lost rewrite")
        return real(self, manifest, added=added)

    monkeypatch.setattr(LakeTable, "_publish", publish)
    with pytest.raises(CommitConflict, match="injected lost rewrite"):
        run(t)
    assert lose["n"] == 0
    assert t.versions() == versions
    assert unreferenced_data_files(t, versions) == set()
