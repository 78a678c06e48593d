"""LakeTable: MERGE semantics, exactly-once ledger, tombstones, schema
evolution, compaction, atomic commit. The golden-final-state style mirrors
the reference's PipelineTest.java:185-230 (assert exact end state)."""

import base64
import contextlib
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


def test_compact_threshold_one_compacts_every_commit(spark, tmp_table_dir):
    t = LakeTable.create(
        spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2, compact_threshold=1
    )
    t.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="w", epoch=0)
    t.merge_into(_changes(spark, [(2, "U", "a", [2])]), app_id="w", epoch=1)
    m = t.manifest()
    assert all(not b["delta"] for b in m["buckets"].values())
    assert _state(t) == {"a": [2]}


def test_legacy_mode_and_bloom_manifest_keys_are_ignored(spark, tmp_table_dir):
    """Manifests from when tables had a ``mode`` and per-file key blooms
    read as before: the keys are ignored. An all-zero bloom would have
    excluded every key, so the rows prove nothing consults it."""
    t = LakeTable.create(
        spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2, compact_threshold=100
    )
    t.merge_into(
        _changes(spark, [(1, "I", "a", [1]), (2, "I", "b", [2])]),
        app_id="w",
        epoch=0,
    )
    t.merge_into(_changes(spark, [(3, "U", "a", [3])]), app_id="w", epoch=1)
    before = _state(t)
    before_lookup = [r.asDict() for r in t.lookup("a").collect()]
    mdir = os.path.join(tmp_table_dir, "_manifests")
    path = os.path.join(
        mdir, max(n for n in os.listdir(mdir) if n.startswith("manifest-"))
    )
    with open(path) as fh:
        m = json.load(fh)
    m["mode"] = "cow"
    m["bloom_filters"] = True
    zero_bloom = base64.b64encode(bytes(8192 // 8)).decode("ascii")
    blooms = 0
    for b in m["buckets"].values():
        for part in ("base", "delta"):
            for e in b.get(part, []):
                e["bloom"] = {"v": 1, "m": 8192, "k": 4, "b64": zero_bloom}
                blooms += 1
    assert blooms
    with open(path, "w") as fh:
        json.dump(m, fh)
    legacy = LakeTable(spark, tmp_table_dir)
    assert _state(legacy) == before == {"a": [3], "b": [2]}
    assert [r.asDict() for r in legacy.lookup("a").collect()] == before_lookup
    assert legacy.last_scan_info["files_read"] >= 1


def test_stray_manifest_backup_is_not_a_table(spark, tmp_table_dir):
    """Only ``manifest-<v>.json`` names a version: a ``_manifests/``
    holding nothing but a stray backup is no table, and get_or_create
    creates one there."""
    d = os.path.join(tmp_table_dir, "_manifests")
    os.makedirs(d)
    with open(os.path.join(d, "manifest-00000001.json.bak"), "w") as f:
        f.write("{}")
    assert not LakeTable.exists(tmp_table_dir)
    t = LakeTable.get_or_create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    assert t.versions() == [0] and t.manifest()["version"] == 0


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


# --- threshold compaction after merge_many: one job folds every due table ---

MM = "table_name string, lsn long, op string, k long, n long"


def _mm_batch(spark, tables, lsn0, keys=range(40), delete=()):
    rows, lsn = [], lsn0
    for t in tables:
        for k in keys:
            gone = k in delete
            rows.append((t, lsn, "D" if gone else "U", k, None if gone else lsn))
            lsn += 1
    return spark.createDataFrame(rows, MM)


def _by_key(df):
    return {r["k"]: r.asDict() for r in df.collect()}


def _count_parquet_writes(monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    n = {"writes": 0}
    real = DataFrameWriter.parquet

    def counted(self, *a, **kw):
        n["writes"] += 1
        return real(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    return n


@contextlib.contextmanager
def spark_lane():
    """Every fold inside takes the Spark lane (``table.fold_tables``):
    no fold input fits under a negative driver-lane size."""
    from multi_table_plugins_spark.lakehouse import table

    old = table.DRIVER_FOLD_MAX_BYTES
    table.DRIVER_FOLD_MAX_BYTES = -1
    try:
        yield
    finally:
        table.DRIVER_FOLD_MAX_BYTES = old


@pytest.fixture()
def spark_fold_lane():
    with spark_lane():
        yield


def _assert_folded(lt, r, op="compact"):
    """``lt``'s newest commit is the fold of its data commit ``r``: the
    state is unchanged, every folded bucket holds one file and, for a
    major fold, no delta."""
    m = lt.manifest()
    assert m["op"] == op and m["version"] == r["version"] + 1
    assert _by_key(lt.read(version=r["version"])) == _by_key(lt.read())
    for b in m["buckets"].values():
        if op == "compact":
            assert len(b["base"]) == 1 and b["delta"] == []
        else:
            assert b["base"] == [] and len(b["delta"]) == 1


def _fold_three_due_tables(spark, tmp_path, monkeypatch, backend, lane):
    """A batch that makes three tables due folds them; each table's
    state is unchanged by its fold, it names ``lane`` and the shared
    staging directory is gone. Returns the batch's Spark writes."""
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many

    wh = str(tmp_path / "wh")
    io = get_fileio(backend)
    kw = dict(app_id="f", n_buckets=2, compact_threshold=2, key_col="k", io=io)
    names = ["a", "b", "c"]
    merge_many(spark, _mm_batch(spark, names, 1), wh, epoch=0, **kw)
    writes = _count_parquet_writes(monkeypatch)
    res = merge_many(
        spark, _mm_batch(spark, names, 1000, delete={0, 7}), wh, epoch=1, **kw
    )
    for t in names:
        lt = LakeTable(spark, os.path.join(wh, t), io=io)
        assert res[t]["compacted_buckets"] == ["0", "1"]
        assert res[t]["compact_ms"] > 0
        assert res[t]["fold_lane"] == lane
        _assert_folded(lt, res[t])
        assert len(_by_key(lt.read())) == 38  # tombstones stay hidden
    assert not os.path.exists(os.path.join(wh, "_staging"))
    return writes["writes"]


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_one_job_folds_every_due_table(
    spark, tmp_path, monkeypatch, backend, spark_fold_lane
):
    """On the Spark lane, the three tables fold with one write after
    the batch write."""
    writes = _fold_three_due_tables(spark, tmp_path, monkeypatch, backend, "spark")
    assert writes == 2  # the batch write and ONE fold write


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_small_fold_runs_no_spark_job(spark, tmp_path, monkeypatch, backend):
    """A fold input within ``DRIVER_FOLD_MAX_BYTES`` folds on the
    driver: the batch write is the batch's only Spark write."""
    writes = _fold_three_due_tables(spark, tmp_path, monkeypatch, backend, "driver")
    assert writes == 1


def test_fold_groups_tables_by_schema(spark, tmp_path, monkeypatch, spark_fold_lane):
    """Two tables due in the same batch, one of them evolved with an
    added column: one fold job per schema, both fold to the state they
    had, and the evolved table's rows keep the added column."""
    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many

    wh = str(tmp_path / "wh")
    kw = dict(app_id="f", n_buckets=1, compact_threshold=3, key_col="k")
    merge_many(spark, _mm_batch(spark, ["a", "b"], 1), wh, epoch=0, **kw)
    a = LakeTable(spark, os.path.join(wh, "a"))
    b = LakeTable(spark, os.path.join(wh, "b"))
    a.merge_into(
        spark.createDataFrame(
            [(500 + k, "U", k, k, f"x{k}") for k in range(10)],
            "lsn long, op string, k long, n long, x string",
        ),
        app_id="side",
    )
    b.merge_into(
        spark.createDataFrame(
            [(500 + k, "U", k, k) for k in range(10, 20)],
            "lsn long, op string, k long, n long",
        ),
        app_id="side",
    )
    assert a.schema().fieldNames() == ["k", "n", "x"]
    writes = _count_parquet_writes(monkeypatch)
    res = merge_many(
        spark, _mm_batch(spark, ["a", "b"], 1000, keys=range(5, 45)), wh,
        epoch=1, **kw,
    )
    assert writes["writes"] == 3  # the batch write and one fold per schema
    for lt, t in ((a, "a"), (b, "b")):
        assert res[t]["compacted_buckets"] == ["0"]
        _assert_folded(lt, res[t])
    got = _by_key(a.read())
    assert got[3]["x"] == "x3" and got[3]["n"] == 3  # side write kept
    assert got[7]["x"] is None and got[7]["n"] > 1000  # batch wins by lsn


def test_sorted_table_keeps_its_clustered_lane(
    spark, tmp_path, monkeypatch, spark_fold_lane
):
    """A table with a persisted sort order, due alongside plain tables,
    compacts on its own clustered lane (several base files per bucket);
    the plain tables share one fold job."""
    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many

    wh = str(tmp_path / "wh")
    kw = dict(app_id="f", n_buckets=2, compact_threshold=2, key_col="k")
    names = ["a", "b", "z"]
    merge_many(spark, _mm_batch(spark, names, 1, keys=range(120)), wh, epoch=0, **kw)
    z = LakeTable(spark, os.path.join(wh, "z"))
    z.set_sort_order([], files_per_bucket=3)
    writes = _count_parquet_writes(monkeypatch)
    res = merge_many(
        spark, _mm_batch(spark, names, 1000, keys=range(120)), wh, epoch=1, **kw
    )
    assert writes["writes"] == 3  # batch write, shared fold, clustered lane
    for t in ("a", "b"):
        _assert_folded(LakeTable(spark, os.path.join(wh, t)), res[t])
    assert res["z"]["compacted_buckets"] == ["0", "1"]
    m = z.manifest()
    assert m["op"] == "compact" and m["version"] == res["z"]["version"] + 1
    assert all(b["delta"] == [] for b in m["buckets"].values())
    assert all(len(b["base"]) > 1 for b in m["buckets"].values())
    assert _by_key(z.read(version=res["z"]["version"])) == _by_key(z.read())


def test_minor_ladder_uses_the_shared_fold(
    spark, tmp_path, monkeypatch, spark_fold_lane
):
    """With ``minor_compact_threshold`` reached, both tables' deltas are
    merged by one minor fold call (one job); bases stay empty."""
    from multi_table_plugins_spark.lakehouse import table as table_mod
    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many

    wh = str(tmp_path / "wh")
    kw = dict(
        app_id="f", n_buckets=2, compact_threshold=100,
        minor_compact_threshold=2, key_col="k",
    )
    merge_many(spark, _mm_batch(spark, ["a", "b"], 1), wh, epoch=0, **kw)
    calls = []
    real = table_mod.fold_tables

    def spy(jobs, minor=False, manifests=None):
        calls.append((sorted(os.path.basename(lt.path) for lt, _ in jobs), minor))
        return real(jobs, minor=minor, manifests=manifests)

    monkeypatch.setattr(table_mod, "fold_tables", spy)
    writes = _count_parquet_writes(monkeypatch)
    res = merge_many(
        spark, _mm_batch(spark, ["a", "b"], 1000, delete={3}), wh, epoch=1, **kw
    )
    assert calls == [(["a", "b"], True)]
    assert writes["writes"] == 2
    for t in ("a", "b"):
        assert res[t]["minor_compacted_buckets"] == ["0", "1"]
        _assert_folded(LakeTable(spark, os.path.join(wh, t)), res[t], "compact-minor")


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_lost_fold_leaves_no_run_and_is_recorded(spark, tmp_path, monkeypatch, backend):
    """A fold that loses the version race after the data commit: the
    data commit stands, the fold's placed run is deleted, one
    ``degraded`` record names the table, and the next batch folds the
    buckets. An explicit ``compact()`` that loses raises instead, and
    leaves no run either."""
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.lakehouse.multi_merge import merge_many
    from multi_table_plugins_spark.streaming.lineage import LineageLog

    wh = str(tmp_path / "wh")
    io = get_fileio(backend)
    kw = dict(app_id="f", n_buckets=2, compact_threshold=2, key_col="k", io=io)
    merge_many(spark, _mm_batch(spark, ["a"], 1), wh, epoch=0, **kw)
    real = LakeTable._publish
    lose = {"n": 1}

    def publish(self, manifest, added=None):
        if manifest["op"] == "compact" and lose["n"]:
            lose["n"] -= 1
            raise CommitConflict("injected lost fold")
        return real(self, manifest, added=added)

    monkeypatch.setattr(LakeTable, "_publish", publish)
    res = merge_many(spark, _mm_batch(spark, ["a"], 1000), wh, epoch=1, **kw)
    a = LakeTable(spark, os.path.join(wh, "a"), io=io)
    assert lose["n"] == 0 and "compacted_buckets" not in res["a"]
    assert a.last_committed_epoch("f") == 1
    assert a.manifest()["version"] == res["a"]["version"]
    assert not unreferenced_data_files(a, a.versions())
    recs = [r for r in LineageLog(wh).read() if r["kind"] == "degraded"]
    assert len(recs) == 1, recs
    assert recs[0]["site"] == "compaction" and recs[0]["table"] == "a"
    assert recs[0]["version"] == res["a"]["version"]
    assert "injected lost fold" in recs[0]["error"]

    res = merge_many(spark, _mm_batch(spark, ["a"], 2000), wh, epoch=2, **kw)
    assert res["a"]["compacted_buckets"] == ["0", "1"]
    _assert_folded(a, res["a"])
    assert not unreferenced_data_files(a, a.versions())

    merge_many(spark, _mm_batch(spark, ["a"], 3000), wh, epoch=3, **kw)
    lose["n"] = 1
    with pytest.raises(CommitConflict, match="injected lost fold"):
        a.compact()
    assert not unreferenced_data_files(a, a.versions())
