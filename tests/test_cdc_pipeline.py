"""End-to-end CDC: replay equality vs the DuckDB batch oracle,
kill-and-resume from checkpoint, exactly-once under duplicate delivery,
error modes, and mid-stream schema evolution."""

import contextlib
import glob
import os
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from multi_table_plugins_spark.feed import FeedSpec, generate_feed, expected_final_state
from multi_table_plugins_spark.lakehouse import LakeTable, latest_snapshot
from multi_table_plugins_spark.lakehouse import multi_merge
from multi_table_plugins_spark.lakehouse.fileio import get_fileio
from multi_table_plugins_spark.lakehouse.multi_merge import is_safe_table_name
from multi_table_plugins_spark.schemas import CHANGE_FEED_SCHEMA
from multi_table_plugins_spark.streaming import (
    apply_cdc_batch,
    replay_feed_batches,
    run_cdc_stream,
)
from multi_table_plugins_spark.streaming.cdc_pipeline import read_errors
from multi_table_plugins_spark.streaming.lineage import LineageLog


def _assert_final_state_equal(spark, warehouse, feed_dir):
    """Row-by-row token-array equality vs the batch oracle (input_hint)."""
    oracle = expected_final_state(feed_dir)
    for t, want in oracle.items():
        lt = LakeTable(spark, os.path.join(warehouse, t))
        got = (
            lt.read()
            .orderBy("doc_id")
            .select("doc_id", "tokens", "n_tok", "source")
            .collect()
        )
        assert len(got) == len(want), f"{t}: row count {len(got)} != {len(want)}"
        for g, (_, w) in zip(got, want.iterrows()):
            assert g["doc_id"] == w["doc_id"], t
            wtok = list(w["tokens"]) if w["tokens"] is not None else None
            assert g["tokens"] == wtok, f"{t}/{g['doc_id']}: token arrays differ"
            assert g["n_tok"] == w["n_tok"]
            assert g["source"] == w["source"]


@pytest.fixture(scope="module")
def feed(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feed"))
    files = generate_feed(
        d,
        FeedSpec(
            n_events=12_000,
            n_tables=3,
            keys_per_table=300,
            hot_fraction=0.3,
            n_files=8,
            seed=11,
        ),
    )
    return d, files


def test_streaming_replay_equality(spark, tmp_path, feed):
    feed_dir, _ = feed
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    q = run_cdc_stream(
        spark, feed_dir, wh, ckpt, app_id="e2e", max_files_per_trigger=2, n_buckets=8
    )
    q.awaitTermination(300)
    _assert_final_state_equal(spark, wh, feed_dir)
    # lineage got one record per (batch, table) with metrics + snapshot ids
    recs = [r for r in LineageLog(wh).read() if r["kind"] == "cdc_apply"]
    assert len(recs) >= 3
    assert all("snapshot_id" in r and "rows_applied" in r for r in recs)
    assert all(r["watermark"] is not None for r in recs)


def _trigger(q) -> str:
    """The Scala trigger object the query was started with."""
    return q._jsq.streamingQuery().trigger().toString()


def _wait_until(cond, timeout=60.0):
    deadline = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < deadline, f"not reached within {timeout} s"
        time.sleep(0.1)


def test_continuous_stream_polls_on_processing_time_trigger(spark, tmp_path, feed):
    """A continuous stream runs on the fixed processing-time trigger (not
    Spark's default 10 ms poll) and still applies a file that lands
    after start, with lineage, within a bounded wait."""
    feed_dir, files = feed
    live = str(tmp_path / "live_feed")
    os.makedirs(live)
    os.link(files[0], os.path.join(live, os.path.basename(files[0])))
    wh = str(tmp_path / "wh")

    def applied_epochs():
        if not os.path.isdir(os.path.join(wh, "_lineage")):
            return set()
        return {r["epoch"] for r in LineageLog(wh).read() if r["kind"] == "cdc_apply"}

    q = run_cdc_stream(
        spark, live, wh, str(tmp_path / "ckpt"), app_id="cont",
        available_now=False, max_files_per_trigger=1, n_buckets=4,
    )
    try:
        assert _trigger(q) == "ProcessingTimeTrigger(250)"
        _wait_until(lambda: 0 in applied_epochs())
        # link(2) makes the file appear whole, as a producer's rename would
        os.link(files[1], os.path.join(live, os.path.basename(files[1])))
        _wait_until(lambda: 1 in applied_epochs())
    finally:
        q.stop()
    assert q.exception() is None
    recs = [r for r in LineageLog(wh).read() if r["kind"] == "cdc_apply" and r["epoch"] == 1]
    assert recs and sum(r["rows_applied"] for r in recs) > 0
    _assert_final_state_equal(spark, wh, live)


def test_available_now_stream_keeps_available_now_trigger(spark, tmp_path, feed):
    feed_dir, _ = feed
    q = run_cdc_stream(
        spark, feed_dir, str(tmp_path / "wh"), str(tmp_path / "ckpt"),
        app_id="an", max_files_per_trigger=4, n_buckets=4,
    )
    q.awaitTermination(300)
    assert _trigger(q) == "AvailableNowTrigger"


def test_kill_and_resume_from_checkpoint(spark, tmp_path, feed):
    """Stream half the log, 'crash', re-deliver the last batch manually
    (the at-least-once window), then resume the stream over the rest —
    final state must equal the batch oracle exactly."""
    feed_dir, files = feed
    live = str(tmp_path / "live_feed")
    os.makedirs(live)
    half = len(files) // 2
    for f in files[:half]:
        os.link(f, os.path.join(live, os.path.basename(f)))

    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    q = run_cdc_stream(
        spark, live, wh, ckpt, app_id="resume", max_files_per_trigger=1, n_buckets=8
    )
    q.awaitTermination(300)

    # simulate the crash window: the last committed epoch gets re-delivered
    last_epoch = max(
        r["epoch"] for r in LineageLog(wh).read() if r["kind"] == "cdc_apply"
    )
    dup = spark.read.parquet(files[half - 1])
    res = apply_cdc_batch(spark, dup, wh, epoch=last_epoch, app_id="resume")
    assert all(m["skipped"] for m in res["tables"].values())

    # deliver the rest of the log and resume from the same checkpoint
    for f in files[half:]:
        os.link(f, os.path.join(live, os.path.basename(f)))
    q2 = run_cdc_stream(
        spark, live, wh, ckpt, app_id="resume", max_files_per_trigger=1, n_buckets=8
    )
    q2.awaitTermination(300)
    _assert_final_state_equal(spark, wh, feed_dir)


def test_error_port_and_skip_modes(spark, tmp_path):
    from datetime import datetime

    t0 = datetime(2026, 1, 1)
    rows = [
        (1, "t0", "I", "a", [1, 2], 2, "web", t0),
        (2, "t0", "I", "b", [1], 99, "web", t0),  # bad n_tok
        (3, "t1", "Z", "c", [1], 1, "web", t0),  # bad op
    ]
    df = spark.createDataFrame(rows, CHANGE_FEED_SCHEMA)
    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, df, wh, epoch=0, app_id="errs", error_mode="error-port")
    errs = read_errors(spark, wh).collect()
    assert len(errs) == 2
    assert {e["table_name"] for e in errs} == {"t0", "t1"}
    assert all(e["exception_class_name"] == "ValidationError" for e in errs)
    # good row applied, bad ones dropped from tables
    t0 = LakeTable(spark, os.path.join(wh, "t0"))
    assert {r["doc_id"] for r in t0.read().collect()} == {"a"}
    assert not LakeTable.exists(os.path.join(wh, "t1"))


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_refused_fast_lane_commit_leaves_no_run(spark, tmp_path, monkeypatch, backend):
    """A feed that still carries a dropped column: the fast lane places
    the table's run and its commit refuses the resurrected column; the
    per-table fallback's re-run is refused the same way. The table is
    reported failed, nothing is published, and neither run is left on
    disk."""
    from tests.test_lakehouse import unreferenced_data_files

    monkeypatch.setenv("MTP_FILEIO", backend)
    t0 = datetime(2026, 1, 1)

    def batch(lsn, op):
        return spark.createDataFrame(
            [(lsn, "t0", op, "a", [1], 1, "web", t0)], CHANGE_FEED_SCHEMA
        )

    wh = str(tmp_path / "wh")
    apply_cdc_batch(spark, batch(1, "I"), wh, epoch=0, app_id="dc", n_buckets=2)
    t = LakeTable(spark, os.path.join(wh, "t0"))
    t.drop_column("source")
    versions = t.versions()
    out = apply_cdc_batch(
        spark, batch(2, "U"), wh, epoch=1, app_id="dc", n_buckets=2,
        error_mode="skip",
    )
    assert out["failed"] == ["t0"]
    assert any(
        r["kind"] == "fast_path_fallback" for r in LineageLog(wh).read()
    )
    assert t.versions() == versions
    assert unreferenced_data_files(t, versions) == set()


def test_allow_block_tables(spark, tmp_path, feed):
    feed_dir, files = feed
    wh = str(tmp_path / "wh")
    df = spark.read.parquet(files[0])
    apply_cdc_batch(
        spark, df, wh, epoch=0, app_id="bl", block_tables=("t01",), n_buckets=4
    )
    assert LakeTable.exists(os.path.join(wh, "t00"))
    assert not LakeTable.exists(os.path.join(wh, "t01"))


def test_mid_stream_schema_evolution(spark, tmp_path):
    d = str(tmp_path / "feed")
    files = generate_feed(
        d,
        FeedSpec(
            n_events=4_000,
            n_tables=2,
            keys_per_table=2_000,
            n_files=8,
            seed=5,
            evolve_at_lsn=2_001,
        ),
    )
    wh = str(tmp_path / "wh")
    replay_feed_batches(spark, files, wh, files_per_batch=2, n_buckets=4)
    for t in ("t00", "t01"):
        lt = LakeTable(spark, os.path.join(wh, t))
        s = lt.schema()
        assert s["n_tok"].dataType == LongType()  # widened mid-stream
        assert s["lang"].dataType == StringType()  # added mid-stream
    _assert_final_state_equal(spark, wh, d)

    # rows written before the evolution read back null-filled
    lt = LakeTable(spark, os.path.join(wh, "t00"))
    assert lt.read().filter(F.col("lang").isNull()).count() > 0
    assert lt.read().filter(F.col("lang").isNotNull()).count() > 0


KEYED_FEED = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("table_name", StringType(), False),
        StructField("op", StringType(), False),
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


def _keyed(spark, rows):
    from datetime import datetime

    t0 = datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(l, t, o, a, b, [1] * n, n, t0) for l, t, o, a, b, n in rows],
        KEYED_FEED,
    )


@pytest.mark.parametrize("mode", ["skip", "error-port"])
def test_key_order_mismatch_refused_on_fallback(spark, tmp_path, mode):
    """A batch whose key_col reorders ``ta``'s key is refused under every
    error mode. The one-job apply commits the new table ``tb`` and fails
    on ``ta``; the per-table fallback re-runs only ``ta``, which fails
    again — it is reported once, ``tb`` keeps exactly one apply record,
    and the incomplete batch publishes no snapshot."""
    wh = str(tmp_path / "wh")
    apply_cdc_batch(
        spark, _keyed(spark, [(1, "ta", "I", "x", 1, 2)]), wh, epoch=0,
        app_id="kg", n_buckets=4, key_col=["k1", "k2"],
    )
    v0 = LakeTable(spark, os.path.join(wh, "ta")).manifest()["version"]
    snap0 = latest_snapshot(get_fileio(None), wh)
    assert snap0["epoch"] == 0

    out = apply_cdc_batch(
        spark,
        _keyed(spark, [(2, "ta", "U", "x", 1, 3), (3, "tb", "I", "y", 2, 1)]),
        wh, epoch=1, app_id="kg", n_buckets=4, key_col=["k2", "k1"],
        error_mode=mode,
    )
    assert out["failed"] == ["ta"] and set(out["tables"]) == {"tb"}
    ta = LakeTable(spark, os.path.join(wh, "ta"))
    assert ta.manifest()["version"] == v0
    assert {r["n_tok"] for r in ta.read().collect()} == {2}
    tb = LakeTable(spark, os.path.join(wh, "tb"))
    assert tb.last_committed_epoch("kg") == 1 and tb.read().count() == 1

    recs = [r for r in LineageLog(wh).read() if r.get("epoch") == 1]
    (fail,) = [r for r in recs if r["kind"] == "table_failure"]
    assert fail["table"] == "ta" and "key" in fail["error"]
    assert [r["table"] for r in recs if r["kind"] == "cdc_apply"] == ["tb"]
    assert any(r["kind"] == "fast_path_fallback" for r in recs)

    errs = read_errors(spark, wh).collect()
    if mode == "error-port":
        (err,) = errs
        assert err["table_name"] == "ta"
        assert err["exception_class_name"] == "ValueError"
    else:
        assert errs == []
    assert latest_snapshot(get_fileio(None), wh) == snap0


def test_fallback_checks_constraints_per_live_event(
    spark, tmp_path, fail_next_merge_many
):
    """The per-table fallback checks CHECK constraints per live change
    event, as the one-job apply does — not on the LWW-resolved rows. Key
    ``a``'s violating event is dropped even though a later event makes
    its resolved row valid."""
    from datetime import datetime

    t0 = datetime(2026, 1, 1)
    wh = str(tmp_path / "wh")
    apply_cdc_batch(
        spark,
        spark.createDataFrame(
            [(1, "c0", "I", "z", [1], 1, "ok", t0),
             (2, "c1", "I", "z", [1], 1, "ok", t0)],
            CHANGE_FEED_SCHEMA,
        ),
        wh, epoch=0, app_id="ck", n_buckets=2,
    )
    LakeTable(spark, os.path.join(wh, "c0")).add_constraint(
        "no_bad", "source <> 'bad'"
    )
    fail_next_merge_many()
    out = apply_cdc_batch(
        spark,
        spark.createDataFrame(
            [
                (10, "c0", "I", "a", [1], 1, "bad", t0),
                (11, "c0", "U", "a", [2], 1, "ok", t0),
                (12, "c0", "I", "b", [3], 1, "bad", t0),
                (13, "c1", "I", "b", [3], 1, "bad", t0),
            ],
            CHANGE_FEED_SCHEMA,
        ),
        wh, epoch=1, app_id="ck", n_buckets=2, error_mode="skip",
    )
    assert out["failed"] == []
    assert out["tables"]["c0"]["constraint_violations_dropped"] == 2
    assert "constraint_violations_dropped" not in out["tables"]["c1"]
    c0 = LakeTable(spark, os.path.join(wh, "c0"))
    assert {r["doc_id"]: r["source"] for r in c0.read().collect()} == {
        "z": "ok",
        "a": "ok",
    }
    recs = [r for r in LineageLog(wh).read() if r.get("epoch") == 1]
    assert any(r["kind"] == "fast_path_fallback" for r in recs)
    assert sorted(r["table"] for r in recs if r["kind"] == "cdc_apply") == [
        "c0",
        "c1",
    ]
    assert latest_snapshot(get_fileio(None), wh)["epoch"] == 1


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


def test_listener_removed_when_start_fails(spark, tmp_path):
    """If writer.start() raises, run_cdc_stream must deregister the
    progress listener instead of leaving it buffering forever."""
    from multi_table_plugins_spark.streaming import run_cdc_stream

    before = len(spark.streams._jsqm.listListeners())
    with pytest.raises(Exception):
        run_cdc_stream(
            spark,
            str(tmp_path / "missing_feed"),
            str(tmp_path / "wh"),
            # invalid checkpoint path forces start() to throw
            "\0bad",
            app_id="lfail",
        )
    assert len(spark.streams._jsqm.listListeners()) == before


def _one_row_batch(spark, lsn, table="t0"):
    return spark.createDataFrame(
        [(lsn, table, "U", "a", [1], 1, "web", datetime(2026, 1, 1))],
        CHANGE_FEED_SCHEMA,
    )


def test_cdc_apply_records_the_batch_jit_time(spark, tmp_path):
    """Every ``cdc_apply`` record carries ``jvm_compile_ms``, the driver
    JVM's JIT time over the batch: batch-wide, so equal on each table's
    record, like ``watermark``."""
    wh = str(tmp_path / "wh")
    df = _one_row_batch(spark, 1).unionByName(_one_row_batch(spark, 2, "t1"))
    apply_cdc_batch(spark, df, wh, epoch=0, app_id="jit", n_buckets=2)
    recs = [r for r in LineageLog(wh).read() if r["kind"] == "cdc_apply"]
    assert sorted(r["table"] for r in recs) == ["t0", "t1"]
    ms = {r["jvm_compile_ms"] for r in recs}
    assert len(ms) == 1
    assert all(type(x) is int and x >= 0 for x in ms), ms


@pytest.mark.parametrize("lane", ["driver", "spark"])
def test_fold_records_name_their_lane(spark, tmp_path, lane):
    """Every ``cdc_apply`` record of a fold carries ``fold_lane`` beside
    ``compact_ms``: ``driver`` for a fold within the driver-lane size,
    ``spark`` when the fold input exceeds it."""
    from test_lakehouse import spark_lane

    wh = str(tmp_path / "wh")
    kw = dict(app_id="lane", n_buckets=2, compact_threshold=2)
    with spark_lane() if lane == "spark" else contextlib.nullcontext():
        for epoch in (0, 1):
            df = _one_row_batch(spark, 2 * epoch + 1).unionByName(
                _one_row_batch(spark, 2 * epoch + 2, "t1")
            )
            apply_cdc_batch(spark, df, wh, epoch=epoch, **kw)
    recs = [
        r for r in LineageLog(wh).read()
        if r["kind"] == "cdc_apply" and "compact_ms" in r
    ]
    assert sorted(r["table"] for r in recs) == ["t0", "t1"]
    assert {r["fold_lane"] for r in recs} == {lane}


@pytest.mark.parametrize("backend", ["local", "generic"])
def test_fast_lane_commit_is_not_followed_by_a_listing(
    spark, tmp_path, monkeypatch, backend
):
    """``merge_many`` decides what is due on the manifest each commit
    published: after a fast-lane commit of a batch that makes no bucket
    due, it lists no ``_manifests/`` directory."""
    calls = []
    base = type(get_fileio(backend))

    class Counting(base):
        def isdir(self, path):
            calls.append(("isdir", path))
            return super().isdir(path)

        def listdir(self, path):
            calls.append(("listdir", path))
            return super().listdir(path)

    after = []
    append_staged = LakeTable.append_staged

    def placed(self, *a, **kw):
        r = append_staged(self, *a, **kw)
        after.append(len(calls))
        return r

    monkeypatch.setattr(LakeTable, "append_staged", placed)
    wh = str(tmp_path / "wh")
    for epoch in (0, 1):
        n = len(calls)
        multi_merge.merge_many(
            spark, _one_row_batch(spark, epoch + 1), wh, app_id="no-list",
            epoch=epoch, n_buckets=2, compact_threshold=4, io=Counting(),
        )
        assert len(after) == epoch + 1
        tail = [c for c in calls[after[-1]:] if "_manifests" in c[1]]
        assert tail == [], tail
        assert any("_manifests" in c[1] for c in calls[n:after[-1]])


def test_fast_lane_prechecks_list_the_log_once(spark, tmp_path, monkeypatch):
    """``merge_many`` takes a table's key, bucket count and constraints
    for its fast-lane pre-checks from one manifest read: between opening
    the table and placing its run, ``_manifests/`` is listed once, for a
    table the batch creates and for one that already exists."""
    from multi_table_plugins_spark.lakehouse.fileio import LocalFileIO

    calls = []

    class Counting(LocalFileIO):
        def isdir(self, path):
            calls.append(("isdir", path))
            return super().isdir(path)

        def listdir(self, path):
            calls.append(("listdir", path))
            return super().listdir(path)

    spans = []
    open_table = LakeTable.get_or_create.__func__
    append_staged = LakeTable.append_staged

    def opened(cls, *a, **kw):
        lt = open_table(cls, *a, **kw)
        spans.append([len(calls)])
        return lt

    def placing(self, *a, **kw):
        spans[-1].append(len(calls))
        return append_staged(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "get_or_create", classmethod(opened))
    monkeypatch.setattr(LakeTable, "append_staged", placing)
    wh = str(tmp_path / "wh")
    for epoch in (0, 1):
        apply_cdc_batch(
            spark, _one_row_batch(spark, epoch + 1), wh, epoch=epoch,
            app_id="pre", n_buckets=2, io=Counting(),
        )
    mdir = os.path.join(wh, "t0", "_manifests")
    assert [len(s) for s in spans] == [2, 2]
    for start, end in spans:
        log = [c for c in calls[start:end] if c[1] == mdir]
        assert log == [("isdir", mdir), ("listdir", mdir)], calls[start:end]
