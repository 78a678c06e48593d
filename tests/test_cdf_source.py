"""Streaming CDF source (``format("lake_cdf")``): readStream over a
LakeTable's manifest log via the Python Data Source API. Offsets are
table versions (checkpoint-resumable), micro-batch partitions are the
delta files added in the version range, executors read with pyarrow.
"""

import os
import time

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
from multi_table_plugins_spark.streaming import LakeCDFDataSource

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


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(LakeCDFDataSource)


def _apply(spark, t, rows, epoch):
    t.merge_into(spark.createDataFrame(rows, CH), app_id="cdf", epoch=epoch)


def _run_available(spark, table_path, sink_name, ckpt, starting=None):
    r = spark.readStream.format("lake_cdf").option("path", table_path)
    if starting is not None:
        r = r.option("startingVersion", starting)
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(sink_name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_cdf_stream_reads_all_changes_from_version_zero(spark, tmp_path):
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=4)
    _apply(spark, t, [(i, "I", i, [i], "s") for i in range(30)], 0)
    _apply(
        spark,
        t,
        [(100, "U", 3, [33], "s2"), (101, "D", 7, None, None)],
        1,
    )
    _run_available(
        spark, p, "cdf_all", str(tmp_path / "ck1"), starting=0
    )
    rows = spark.sql("SELECT * FROM cdf_all").collect()
    assert len(rows) == 32  # every change event, raw feed
    by_lsn = {r["_lsn"]: r for r in rows}
    assert by_lsn[100]["_change_op"] == "U" and by_lsn[100]["tokens"] == [33]
    assert by_lsn[101]["_change_op"] == "D" and by_lsn[101]["doc_id"] == 7
    # commit versions are the manifest versions that added each file
    assert by_lsn[0]["_commit_version"] < by_lsn[100]["_commit_version"]
    # LWW over the raw feed reproduces the table's live state
    net = (
        spark.sql("SELECT * FROM cdf_all")
        .groupBy("doc_id")
        .agg(F.max_by(F.struct("_change_op", "tokens"), "_lsn").alias("w"))
        .filter(F.col("w._change_op") != "D")
    )
    assert net.count() == t.read().count() == 29


def _run_to_parquet(spark, table_path, out_dir, ckpt, starting=None):
    """File-sink variant: the memory sink cannot recover from a
    checkpoint, so resume semantics are proven against parquet."""
    r = spark.readStream.format("lake_cdf").option("path", table_path)
    if starting is not None:
        r = r.option("startingVersion", starting)
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_cdf_stream_default_start_is_now(spark, tmp_path):
    p = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck2")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, [i], "s") for i in range(10)], 0)
    # no startingVersion: only changes AFTER stream creation are seen
    _run_to_parquet(spark, p, out, ck)
    assert spark.read.parquet(out).count() == 0
    _apply(spark, t, [(50, "U", 1, [11], "s")], 1)
    _run_to_parquet(spark, p, out, ck)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0]["_lsn"] == 50


def test_cdf_stream_checkpoint_resume_no_duplicates(spark, tmp_path):
    p = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, [1], "s")], 0)
    _run_to_parquet(spark, p, out, ck, starting=0)
    assert spark.read.parquet(out).count() == 1
    _apply(spark, t, [(2, "I", 2, [2], "s")], 1)
    # resume from the SAME checkpoint: only the new event is appended
    _run_to_parquet(spark, p, out, ck, starting=0)
    rows = spark.read.parquet(out).collect()
    assert sorted(r["_lsn"] for r in rows) == [1, 2]


def test_cdf_stream_compaction_commit_is_empty_batch(spark, tmp_path):
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, [i], "s") for i in range(8)], 0)
    v_after_data = t.manifest()["version"]
    t.compact()  # adds a version but no delta files
    _run_available(
        spark, p, "cdf_c", str(tmp_path / "ckc"), starting=v_after_data
    )
    assert spark.sql("SELECT count(*) c FROM cdf_c").first()["c"] == 0


def test_cdf_stream_schema_evolution_null_fills_old_files(spark, tmp_path):
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, [1], "s")], 0)
    wide = StructType(CH.fields[:]).add("extra", StringType(), True)
    t.merge_into(
        spark.createDataFrame([(2, "I", 2, [2], "s", "x")], wide),
        app_id="cdf",
        epoch=1,
    )
    # stream starts AFTER evolution: schema has `extra`; the old file
    # (written without it) must null-fill
    _run_available(spark, p, "cdf_ev", str(tmp_path / "cke"), starting=0)
    rows = {r["_lsn"]: r for r in spark.sql("SELECT * FROM cdf_ev").collect()}
    assert rows[1]["extra"] is None and rows[2]["extra"] == "x"


def test_cdf_warehouse_mode_tags_tables_and_merges_schema(spark, tmp_path):
    """Multi-table CDF: one stream over the whole warehouse, rows tagged
    with table_name (S1/S2/S9 semantics as CDC-out), schema = evolution-
    merge of every table, block list honored."""
    from pyspark.sql import functions as F2
    from multi_table_plugins_spark.streaming import apply_cdc_batch

    wh = str(tmp_path / "wh")
    rows = [
        (1, "ta", "I", "x", [1], 1, "s", "2024-01-01 00:00:01"),
        (2, "tb", "I", "y", [2, 2], 2, "s", "2024-01-01 00:00:02"),
        (3, "tc", "I", "z", [3], 1, "s", "2024-01-01 00:00:03"),
        (4, "ta", "D", "x", None, None, None, "2024-01-01 00:00:04"),
    ]
    feed = spark.createDataFrame(
        rows,
        "lsn long, table_name string, op string, doc_id string, "
        "tokens array<int>, n_tok int, source string, ts string",
    ).withColumn("ts", F2.col("ts").cast("timestamp"))
    apply_cdc_batch(spark, feed, wh, epoch=0, app_id="w", n_buckets=2)

    q = (
        spark.readStream.format("lake_cdf")
        .option("warehouse", wh)
        .option("blockTables", "tc")
        .option("startingVersion", 0)
        .load()
        .writeStream.format("memory")
        .queryName("cdf_wh")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM cdf_wh").collect()
    by = {(r["table_name"], r["_lsn"]): r for r in got}
    assert set(by) == {("ta", 1), ("tb", 2), ("ta", 4)}  # tc blocked
    assert by[("ta", 4)]["_change_op"] == "D"
    assert by[("tb", 2)]["tokens"] == [2, 2]
    # table_name is the FIRST column (the reference's tagged-union shape)
    assert got[0].__fields__[0] == "table_name"


def test_cdf_warehouse_mode_new_table_appears_mid_stream(spark, tmp_path):
    from pyspark.sql import functions as F2
    from multi_table_plugins_spark.streaming import apply_cdc_batch

    wh = str(tmp_path / "wh")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def mk_feed(rows):
        return spark.createDataFrame(
            rows,
            "lsn long, table_name string, op string, doc_id string, "
            "tokens array<int>, n_tok int, source string, ts string",
        ).withColumn("ts", F2.col("ts").cast("timestamp"))

    apply_cdc_batch(
        spark,
        mk_feed([(1, "ta", "I", "a", [1], 1, "s", "2024-01-01 00:00:01")]),
        wh, epoch=0, app_id="w", n_buckets=2,
    )

    def run():
        q = (
            spark.readStream.format("lake_cdf")
            .option("warehouse", wh)
            .option("startingVersion", 0)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 1
    # a NEW table materializes between micro-batches
    apply_cdc_batch(
        spark,
        mk_feed([(2, "tnew", "I", "b", [2], 1, "s", "2024-01-01 00:00:02")]),
        wh, epoch=1, app_id="w", n_buckets=2,
    )
    run()
    rows = spark.read.parquet(out).collect()
    assert {(r["table_name"], r["_lsn"]) for r in rows} == {("ta", 1), ("tnew", 2)}


def test_replicate_table_converges_and_resumes_exactly_once(spark, tmp_path):
    """The full CDC loop: source table → lake_cdf stream → merge_into
    replica. After each incremental refresh the replica equals the
    source exactly (including deletes); a replayed refresh with no new
    source commits is a ledger no-op."""
    from multi_table_plugins_spark.streaming.cdf_source import replicate_table

    src_p = str(tmp_path / "src")
    dst_p = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    src = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=4)
    _apply(spark, src, [(i, "I", i, [i], "s") for i in range(40)], 0)

    def state(t):
        return {
            r["doc_id"]: (r["tokens"], r["source"]) for r in t.read().collect()
        }

    q = replicate_table(spark, src_p, dst_p, ck)
    q.awaitTermination(120)
    dst = LakeTable(spark, dst_p)
    assert state(dst) == state(src)

    # mutate the source: updates, deletes, new keys — refresh converges
    _apply(
        spark,
        src,
        [(100, "U", 3, [33], "s2"), (101, "D", 7, None, None),
         (102, "I", 99, [9, 9], "s")],
        1,
    )
    v_dst = dst.manifest()["version"]
    q = replicate_table(spark, src_p, dst_p, ck)
    q.awaitTermination(120)
    assert state(dst) == state(src)
    assert 7 not in state(dst)

    # no new source commits: refresh is a no-op (no new dst version)
    v_after = dst.manifest()["version"]
    q = replicate_table(spark, src_p, dst_p, ck)
    q.awaitTermination(120)
    assert dst.manifest()["version"] == v_after
    assert v_after > v_dst


def test_continuous_replica_polls_on_processing_time_trigger(spark, tmp_path):
    """``replicate_table(available_now=False)`` runs on the fixed
    processing-time trigger and applies a source commit made after start
    within a bounded wait, its source version recorded in the replica's
    ledger; ``available_now=True`` keeps the available-now trigger."""
    from multi_table_plugins_spark.streaming.cdf_source import replicate_table

    src_p = str(tmp_path / "src")
    dst_p = str(tmp_path / "dst")
    src = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=4)
    _apply(spark, src, [(i, "I", i, [i], "s") for i in range(20)], 0)

    def replicated_version():
        if not LakeTable.exists(dst_p):
            return None
        return LakeTable(spark, dst_p).last_committed_epoch("replica")

    def wait_for_version(v, timeout=60.0):
        deadline = time.monotonic() + timeout
        while replicated_version() != v:
            assert time.monotonic() < deadline, f"version {v} not replicated"
            time.sleep(0.1)

    q = replicate_table(spark, src_p, dst_p, str(tmp_path / "ck"), available_now=False)
    try:
        trigger = q._jsq.streamingQuery().trigger().toString()
        assert trigger == "ProcessingTimeTrigger(250)"
        wait_for_version(src.manifest()["version"])
        _apply(spark, src, [(100, "U", 3, [33], "s2"), (101, "D", 7, None, None)], 1)
        wait_for_version(src.manifest()["version"])
    finally:
        q.stop()
    assert q.exception() is None
    dst = LakeTable(spark, dst_p)
    assert sorted(map(tuple, dst.read().collect())) == sorted(
        map(tuple, src.read().collect())
    )

    q = replicate_table(spark, src_p, dst_p, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    assert q._jsq.streamingQuery().trigger().toString() == "AvailableNowTrigger"


def test_cdf_stream_survives_mid_stream_schema_evolution(spark, tmp_path):
    """A schema-evolving commit BETWEEN micro-batches must not kill the
    long-lived reader (regression: a frozen schema-version map raised
    KeyError in partitions() on the first post-evolution batch). The
    new column is dropped from the already-running stream's schema —
    Structured Streaming schemas are fixed at start — but every row
    still arrives."""
    from pyspark.sql.types import StringType as _S

    p = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, [1], "s")], 0)
    _run_to_parquet(spark, p, out, ck, starting=0)
    assert spark.read.parquet(out).count() == 1
    # evolve mid-stream: new column arrives with epoch 1
    wide = StructType(CH.fields[:]).add("extra", _S(), True)
    t.merge_into(
        spark.createDataFrame([(2, "I", 2, [2], "s", "x")], wide),
        app_id="cdf",
        epoch=1,
    )
    _run_to_parquet(spark, p, out, ck, starting=0)  # same checkpoint
    rows = spark.read.parquet(out).collect()
    assert sorted(r["_lsn"] for r in rows) == [1, 2]


def test_replicate_table_rejects_unnamed_fileio(spark, tmp_path):
    from multi_table_plugins_spark.streaming.cdf_source import replicate_table

    class Custom:
        name = "custom-spy"

    p = str(tmp_path / "t")
    LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    with pytest.raises(ValueError, match="named FileIO backend"):
        replicate_table(
            spark, p, str(tmp_path / "d"), str(tmp_path / "ck"),
            fileio=Custom(),
        )


def test_replicate_survives_lost_checkpoint(spark, tmp_path):
    """Exactly-once is keyed on SOURCE versions, not stream batch ids:
    a recreated checkpoint against an existing replica must re-deliver
    already-applied versions as ledger no-ops AND still apply new
    source commits (regression: batch-id epochs restarted at 0 and
    silently skipped everything forever)."""
    from multi_table_plugins_spark.streaming.cdf_source import replicate_table

    src_p = str(tmp_path / "src")
    dst_p = str(tmp_path / "dst")
    src = LakeTable.create(spark, src_p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, src, [(i, "I", i, [i], "s") for i in range(10)], 0)
    q = replicate_table(spark, src_p, dst_p, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    dst = LakeTable(spark, dst_p)
    assert dst.read().count() == 10
    # new source commit, then refresh with a FRESH checkpoint
    _apply(spark, src, [(100, "U", 3, [33], "s2")], 1)
    q = replicate_table(spark, src_p, dst_p, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    got = {r["doc_id"]: r["tokens"] for r in dst.read().collect()}
    assert got[3] == [33] and len(got) == 10


def test_partition_splitting_math():
    """Unit: oversized files split into row-group chunks; small files
    and legacy entries (rows/rgs = 0) stay whole."""
    from multi_table_plugins_spark.streaming.cdf_source import (
        _partitions_for,
    )

    small = ("a.parquet", 1, 3, 10_000, 4)
    legacy = ("b.parquet", 1, 3, 0, 0)
    big = ("c.parquet", 1, 4, 3_500_000, 10)
    parts = _partitions_for("/t", [small, legacy, big])
    whole = [p for p in parts if p.rg_lo is None]
    split = [p for p in parts if p.rg_lo is not None]
    assert len(whole) == 2
    assert len(split) == 4  # ceil(3.5M / 1M) chunks over 10 rgs
    assert all(p.file_path == "/t/c.parquet" for p in split)
    # chunks cover [0, 10) exactly once, in order, no overlap
    covered = sorted((p.rg_lo, p.rg_hi) for p in split)
    assert covered[0][0] == 0 and covered[-1][1] == 10
    for (a_lo, a_hi), (b_lo, b_hi) in zip(covered, covered[1:]):
        assert a_hi == b_lo
    assert all(p.commit_version == 4 for p in split)


def test_oversized_delta_file_streams_exactly_once(spark, tmp_path):
    """End-to-end: a delta file above the split threshold with many
    row groups streams as multiple partitions and still yields every
    change event exactly once."""
    p = str(tmp_path / "t")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 1 << 20)  # ~1 MB row groups
    try:
        t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=1)
        big = (
            spark.range(1_100_000)
            .select(
                F.col("id").alias("lsn"),
                F.lit("U").alias("op"),
                F.col("id").alias("doc_id"),
                F.array(F.col("id").cast("int")).alias("tokens"),
                F.lit("s").alias("source"),
            )
        )
        t.merge_into(big, app_id="big", epoch=0)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    m = t.manifest()
    entries = [e for b in m["buckets"].values() for e in b.get("delta", [])]
    assert sum(e["rows"] for e in entries) == 1_100_000
    # the split path is genuinely exercised: at least one file is both
    # above the row threshold and multi-row-group
    assert any(e["rows"] > 1_000_000 and e.get("rgs", 0) > 1 for e in entries), [
        (e["rows"], e.get("rgs")) for e in entries
    ]
    _run_to_parquet(spark, p, out, ck, starting=0)
    got = spark.read.parquet(out)
    assert got.count() == 1_100_000
    assert got.select("_lsn").distinct().count() == 1_100_000


def test_cdf_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp streams exactly the commits stamped at or
    after the instant (Delta contract): changes before it are skipped,
    changes after it (including ones applied mid-instant) arrive."""
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(i, "I", i, [i], "old") for i in range(10)], 0)
    cut = time.time()
    time.sleep(0.05)  # commit ts granularity
    _apply(spark, t, [(100 + i, "I", 50 + i, [i], "new") for i in range(5)], 1)

    q = (
        spark.readStream.format("lake_cdf")
        .option("path", p)
        .option("startingTimestamp", str(cut))
        .load()
        .writeStream.format("memory")
        .queryName("cdf_ts")
        .option("checkpointLocation", str(tmp_path / "ck_ts"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM cdf_ts").collect()}
    assert got == {50 + i for i in range(5)}

    # ISO form resolves too, and a pre-history instant replays everything
    from multi_table_plugins_spark.streaming.cdf_source import (
        _parse_start_ts,
        _start_version_for_ts,
    )
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio

    io = get_fileio(None)
    assert _start_version_for_ts(io, p, 0.0) == -1  # before v0: all history
    assert _start_version_for_ts(io, p, cut) == 1  # v1 (epoch 0) already seen
    assert _parse_start_ts("2026-01-02T03:04:05") > 0

    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.readStream.format("lake_cdf")
            .option("path", p)
            .option("startingVersion", 0)
            .option("startingTimestamp", str(cut))
            .load()
            .writeStream.format("memory")
            .queryName("cdf_ts_bad")
            .option("checkpointLocation", str(tmp_path / "ck_bad"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


def test_stream_metadata_reads_retry_a_torn_manifest(spark, tmp_path):
    """A manifest read while its body is still being written (the
    generic backend's linkless fallback publishes by exclusive create,
    then write) is retried, not parsed as corrupt: the stream's start
    offset and its schema resolution both see the finished body."""
    import threading

    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.streaming.cdf_source import (
        _start_version_for_ts,
    )

    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, key="doc_id", n_buckets=2)
    _apply(spark, t, [(1, "I", 1, [1], "a")], 0)
    _apply(spark, t, [(2, "I", 2, [2], "b")], 1)
    v = t.manifest()["version"]
    latest = os.path.join(p, "_manifests", f"manifest-{v:08d}.json")
    with open(latest) as f:
        body = f.read()

    def torn() -> threading.Thread:
        open(latest, "w").close()  # created, body not written yet

        def fill():
            time.sleep(0.05)
            with open(latest, "w") as f:
                f.write(body)

        th = threading.Thread(target=fill)
        th.start()
        return th

    th = torn()
    try:
        start = _start_version_for_ts(get_fileio(None), p, time.time() + 3600)
    finally:
        th.join()
    assert start == v  # every version predates the instant

    th = torn()
    try:
        schema = LakeCDFDataSource({"path": p}).schema()
    finally:
        th.join()
    assert schema.fieldNames() == [
        "doc_id", "tokens", "source", "_change_op", "_lsn", "_commit_version",
    ]


def test_discover_tables_skips_a_table_with_no_manifest_yet(tmp_path):
    """A directory whose ``_manifests/`` holds no manifest yet (a create
    caught mid-way) is not a table: discovery skips it rather than
    handing the stream a table it cannot read."""
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.lakehouse.table import discover_tables

    wh = str(tmp_path / "wh")
    for t in ("a", "b", "c"):
        LakeTable.create(None, os.path.join(wh, t), SCHEMA)
    os.makedirs(os.path.join(wh, "half", "_manifests"))
    os.makedirs(os.path.join(wh, "_lineage"))
    io = get_fileio(None)
    assert discover_tables(io, wh, set(), set()) == {"a": 0, "b": 0, "c": 0}
    assert discover_tables(io, wh, {"a", "c", "half"}, {"c"}) == {"a": 0}


def test_warehouse_offset_lists_each_table_once(tmp_path):
    """A warehouse-mode offset lists the warehouse once and each table's
    ``_manifests/`` once: discovery and the head version share one
    listing."""
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.streaming.cdf_source import (
        WarehouseCDFStreamReader,
    )

    wh = str(tmp_path / "wh")
    for t in ("a", "b", "c"):
        LakeTable.create(None, os.path.join(wh, t), SCHEMA)
    LakeTable(None, os.path.join(wh, "b")).set_sort_order(["source"])
    inner = get_fileio(None)
    listed = []

    class Counting:
        def __getattr__(self, name):
            return getattr(inner, name)

        def listdir(self, path):
            listed.append(path)
            return inner.listdir(path)

    reader = WarehouseCDFStreamReader(None, {"warehouse": wh, "fileio": Counting()})
    assert reader._versions_now() == {"a": 0, "b": 1, "c": 0}
    assert len(listed) == 4, listed


def test_pinned_manifest_reads_do_not_list_the_log(tmp_path):
    """``manifest(v)`` opens ``manifest-<v>.json`` by name: the
    startingTimestamp walk over a 51-version log lists ``_manifests/``
    once, not once per version, and a missing version still says so."""
    from multi_table_plugins_spark.lakehouse.fileio import get_fileio
    from multi_table_plugins_spark.streaming.cdf_source import (
        _start_version_for_ts,
    )

    p = str(tmp_path / "t")
    t = LakeTable.create(None, p, SCHEMA)
    for i in range(50):
        t.set_sort_order(["source"] if i % 2 == 0 else None)
    assert t.versions() == list(range(51))
    inner = get_fileio(None)
    listed = []

    class Counting:
        def __getattr__(self, name):
            return getattr(inner, name)

        def listdir(self, path):
            listed.append(path)
            return inner.listdir(path)

    assert _start_version_for_ts(Counting(), p, time.time() + 3600) == 50
    assert len(listed) <= 2, listed
    with pytest.raises(FileNotFoundError, match="no version 99"):
        LakeTable(None, p, io=Counting()).manifest(99)
