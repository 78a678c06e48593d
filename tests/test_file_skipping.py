"""Manifest-level data skipping: every data file carries key-column
min/max statistics (read once from the parquet footer at commit time),
and ``LakeTable.read(where=...)`` prunes file entries whose key
interval cannot intersect the predicate BEFORE any Spark job is
planned — the Iceberg data-skipping shape. At 100 TB a key-range scan
must be O(matching files), not O(table).

Soundness invariants tested here:
  * pruned reads equal unpruned ``read().filter(...)`` exactly;
  * only KEY-column predicates prune (a payload bound on a pre-LWW
    file could change which version wins — such predicates filter
    rows, never files);
  * files without stats (legacy manifests) are conservatively kept;
  * stats survive compaction (rewritten files get fresh footers).
"""

import datetime as dt
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
    TimestampType,
)

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.lakehouse.table import (
    _entry_matches,
    _stat_value,
)

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


def _batch(spark, rows):
    return spark.createDataFrame(rows, CH)


@pytest.fixture()
def table(spark, tmp_path):
    """Keys 0..399 in four disjoint-range batches (each batch lands in
    its own delta files ⇒ per-file key ranges are narrow)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4
    )
    for i in range(4):
        rows = [
            (100 * i + k, "I", 100 * i + k, [k], "s")
            for k in range(100)
        ]
        t.merge_into(_batch(spark, rows), app_id="fs", epoch=i)
    return t


def test_key_range_prunes_files_and_matches_full_filter(table):
    full = {
        r["doc_id"]: r["tokens"]
        for r in table.read().filter(
            (F.col("doc_id") >= 150) & (F.col("doc_id") < 250)
        ).collect()
    }
    pruned_df = table.read(
        where=[("doc_id", ">=", 150), ("doc_id", "<", 250)]
    )
    got = {r["doc_id"]: r["tokens"] for r in pruned_df.collect()}
    assert got == full and len(got) == 100
    info = table.last_scan_info
    # batches 0 and 3 (keys 0-99, 300-399) can never intersect
    assert info["files_read"] < info["files_total"], info


def test_point_predicate_reads_single_batch_files(table):
    got = table.read(where=[("doc_id", "=", 123)]).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 123
    info = table.last_scan_info
    # only batch 1's files (plus same-range stragglers) survive pruning
    assert info["files_read"] <= info["files_total"] / 2, info


def test_non_key_predicate_filters_rows_but_never_prunes(table):
    df = table.read(where=[("source", "=", "s"), ("doc_id", "<", 50)])
    assert df.count() == 50
    # the doc_id bound pruned; now with ONLY the payload predicate:
    df2 = table.read(where=[("source", "=", "zzz")])
    assert df2.count() == 0
    info = table.last_scan_info
    assert info["files_read"] == info["files_total"], (
        "payload predicates must never prune pre-LWW files"
    )


def test_pruning_respects_lww_updates_and_deletes(spark, table):
    # update key 10 with a much later lsn, delete key 20 — the winning
    # versions live in NEW files; range reads must still resolve LWW
    table.merge_into(
        _batch(
            spark,
            [(10_000, "U", 10, [99], "s2"), (10_001, "D", 20, None, None)],
        ),
        app_id="fs",
        epoch=4,
    )
    got = {
        r["doc_id"]: r["tokens"]
        for r in table.read(where=[("doc_id", "<", 30)]).collect()
    }
    assert got[10] == [99]
    assert 20 not in got
    assert len(got) == 29


def test_entries_without_stats_are_kept(table):
    # legacy manifests have no "stats" key — simulated entry must match
    assert _entry_matches({"path": "p", "rows": 1}, [("doc_id", "=", 5)])


def test_stats_survive_compaction(spark, table):
    table.compact()
    m = table.manifest()
    base_entries = [
        e for b in m["buckets"].values() for e in b.get("base", [])
    ]
    assert base_entries and all("stats" in e for e in base_entries)
    got = table.read(where=[("doc_id", "=", 321)]).collect()
    assert len(got) == 1 and got[0]["tokens"] == [21]


def test_string_and_timestamp_keys_prune(spark, tmp_path):
    import datetime as dt

    sch = StructType(
        [
            StructField("k", StringType(), False),
            StructField("ts", LongType(), True),
        ]
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("k", StringType(), False),
            StructField("ts", LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "s"), sch, key="k", n_buckets=2)
    t.merge_into(
        spark.createDataFrame(
            [(i, "I", f"a{i:03d}", i) for i in range(50)], ch
        ),
        app_id="s",
        epoch=0,
    )
    t.merge_into(
        spark.createDataFrame(
            [(100 + i, "I", f"z{i:03d}", i) for i in range(50)], ch
        ),
        app_id="s",
        epoch=1,
    )
    got = t.read(where=[("k", ">=", "z000")]).collect()
    assert len(got) == 50
    info = t.last_scan_info
    assert info["files_read"] < info["files_total"]
    # ONE temporal axis: timestamps and dates both normalize to epoch-µs
    # (a date-keyed table probed with a datetime bound must compare on
    # the same scale — ordinal-vs-µs would silently prune everything)
    assert _stat_value(dt.datetime(1970, 1, 1, 0, 0, 1)) == 1_000_000
    assert _stat_value(dt.date(1970, 1, 2)) == 86_400_000_000
    assert _stat_value(dt.date(1970, 1, 2)) == _stat_value(
        dt.datetime(1970, 1, 2)
    )


def test_bad_op_rejected(table):
    with pytest.raises(ValueError, match="unsupported predicate op"):
        table.read(where=[("doc_id", "like", 5)]).collect()


def test_works_under_generic_fileio(spark, tmp_path):
    from multi_table_plugins_spark.lakehouse.fileio import GenericFileIO

    t = LakeTable.create(
        spark,
        str(tmp_path / "g"),
        SCHEMA,
        key="doc_id",
        n_buckets=2,
        io=GenericFileIO(),
    )
    t.merge_into(
        _batch(spark, [(i, "I", i, [i], "s") for i in range(20)]),
        app_id="g",
        epoch=0,
    )
    t.merge_into(
        _batch(spark, [(100 + i, "I", 100 + i, [i], "s") for i in range(20)]),
        app_id="g",
        epoch=1,
    )
    got = t.read(where=[("doc_id", ">=", 100)]).collect()
    assert len(got) == 20
    assert t.last_scan_info["files_read"] < t.last_scan_info["files_total"]


def test_lookup_uses_stats_within_bucket(spark, tmp_path):
    """Point lookups prune delta files INSIDE the key's bucket by the
    min/max stats — a hot bucket with many disjoint-range delta files
    reads only the overlapping ones."""
    t = LakeTable.create(
        spark, str(tmp_path / "l"), SCHEMA, key="doc_id", n_buckets=1
    )
    for i in range(6):
        rows = [
            (100 * i + k, "I", 100 * i + k, [k], "s") for k in range(0, 100, 7)
        ]
        t.merge_into(_batch(spark, rows), app_id="lk", epoch=i)
    got = t.lookup(214).collect()
    assert len(got) == 1 and got[0]["tokens"] == [14]
    info = t.last_scan_info
    assert info["files_read"] < info["files_total"], info
    # absent key in a pruned-away range still answers correctly
    assert t.lookup(999_999).count() == 0


def test_lookup_compound_and_string_keys(spark, tmp_path):
    """A compound (string, long) key probes as a tuple in manifest key
    order and finds the one version its batch wrote."""
    sch = StructType(
        [
            StructField("a", StringType(), False),
            StructField("b", LongType(), False),
            StructField("v", LongType(), True),
        ]
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("a", StringType(), False),
            StructField("b", LongType(), False),
            StructField("v", LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "ck"),
        sch,
        key=["a", "b"],
        n_buckets=1,
        compact_threshold=100,
    )
    for i in range(3):
        rows = [(100 * i + k, "I", f"k{k}", 10 * i + k, k) for k in range(20)]
        t.merge_into(spark.createDataFrame(rows, ch), app_id="ck", epoch=i)
    got = t.lookup(("k7", 17)).collect()  # batch 1 only
    assert len(got) == 1 and got[0]["v"] == 7


def test_lookup_timestamp_key_probe_both_forms(spark, tmp_path):
    """A timestamp key answers a datetime probe and the same instant as
    epoch seconds (lookup's cast contract) with the same row."""
    sch = StructType(
        [
            StructField("ts", TimestampType(), False),
            StructField("v", LongType(), True),
        ]
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("ts", TimestampType(), False),
            StructField("v", LongType(), True),
        ]
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "ts"),
        sch,
        key="ts",
        n_buckets=1,
        compact_threshold=100,
    )
    base = dt.datetime(2021, 6, 1)
    for i in range(3):
        rows = [
            (100 * i + k, "I", base + dt.timedelta(hours=k * 3 + i), k)
            for k in range(20)
        ]
        t.merge_into(spark.createDataFrame(rows, ch), app_id="ts", epoch=i)
    probe_dt = base + dt.timedelta(hours=5 * 3 + 1)  # batch 1, k=5
    got = t.lookup(probe_dt).collect()
    assert len(got) == 1 and got[0]["v"] == 5
    got2 = t.lookup(int(probe_dt.timestamp())).collect()
    assert len(got2) == 1 and got2[0]["v"] == 5


def test_pipeline_fast_path_files_carry_stats(spark, tmp_path):
    """The multi-table fast path (apply_cdc_batch → merge_many) builds
    file entries itself — it must collect the same footer stats as the
    slow path, or every pipeline-produced table is unskippable."""
    from pyspark.sql import functions as F2
    from multi_table_plugins_spark.streaming import apply_cdc_batch

    wh = str(tmp_path / "wh")
    rows = [
        (i, "ta", "I", f"d{i:04d}", [i], 1, "s", "2024-01-01 00:00:01")
        for i in range(40)
    ]
    feed = spark.createDataFrame(
        rows,
        "lsn long, table_name string, op string, doc_id string, "
        "tokens array<int>, n_tok int, source string, ts string",
    ).withColumn("ts", F2.col("ts").cast("timestamp"))
    apply_cdc_batch(spark, feed, wh, epoch=0, app_id="fs", n_buckets=4)
    t = LakeTable(spark, os.path.join(wh, "ta"))
    m = t.manifest()
    entries = [
        e
        for b in m["buckets"].values()
        for part in ("base", "delta")
        for e in b.get(part, [])
    ]
    assert entries and all("stats" in e for e in entries), entries
    assert all("doc_id" in e["stats"] and "_lsn" in e["stats"] for e in entries)
    got = t.read(where=[("doc_id", "=", "d0007")]).collect()
    assert len(got) == 1 and got[0]["tokens"] == [7]


def test_cross_type_temporal_predicate_does_not_false_prune(spark, tmp_path):
    """A DATE-keyed table probed with a datetime bound (and vice versa)
    must return the same rows as the unpruned filter — regression: the
    old ordinal-vs-epoch-µs axes made every file fail the interval test
    and read(where=...) silently returned nothing."""
    import datetime as dt

    sch = StructType([StructField("d", __import__("pyspark.sql.types", fromlist=["DateType"]).DateType(), False)])
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
        ]
    ).add("d", sch["d"].dataType, False)
    t = LakeTable.create(spark, str(tmp_path / "d"), sch, key="d", n_buckets=2)
    rows = [(i, "I", dt.date(2024, 1, 1) + dt.timedelta(days=i)) for i in range(30)]
    t.merge_into(spark.createDataFrame(rows, ch), app_id="d", epoch=0)
    got = t.read(where=[("d", ">=", dt.datetime(2024, 1, 20))]).collect()
    assert len(got) == 11  # days 19..29 (Jan 20 .. Jan 30)
    got2 = t.read(where=[("d", ">=", dt.date(2024, 1, 20))]).collect()
    assert len(got2) == 11


def test_non_utc_session_skips_temporal_pruning_but_stays_correct(spark, tmp_path):
    """In a non-UTC session, temporal predicates must not prune files
    (the prune bound would be offset-shifted) — they still filter rows."""
    import datetime as dt

    sch = StructType([StructField("k", LongType(), False)]).add(
        "ts", __import__("pyspark.sql.types", fromlist=["TimestampType"]).TimestampType(), True
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("k", LongType(), False),
        ]
    ).add("ts", sch["ts"].dataType, True)
    t = LakeTable.create(spark, str(tmp_path / "z"), sch, key="k", n_buckets=2)
    rows = [
        (i, "I", i, dt.datetime(2024, 1, 1, 12) + dt.timedelta(hours=i))
        for i in range(20)
    ]
    t.merge_into(spark.createDataFrame(rows, ch), app_id="z", epoch=0)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        bound = dt.datetime(2024, 1, 1, 20)
        want = t.read().filter(F.col("ts") >= bound).count()
        df = t.read(where=[("ts", ">=", bound)])
        assert df.count() == want
        info = t.last_scan_info
        assert info["files_read"] == info["files_total"], (
            "temporal predicates must not prune outside UTC sessions"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_unversioned_stats_never_prune(spark):
    """Entries written under an older stats normalization (no stats_v
    marker — e.g. dates as ordinals) are conservatively kept: a
    representation change must never silently prune a pre-existing
    warehouse's files."""
    from multi_table_plugins_spark.lakehouse.table import _STATS_V

    legacy = {"path": "p", "rows": 1, "stats": {"d": [738886, 738916]}}
    assert _entry_matches(legacy, [("d", "=", 1_706_000_000_000_000)])
    current = dict(legacy, stats_v=_STATS_V)
    assert not _entry_matches(current, [("d", "=", 1_706_000_000_000_000)])


def test_tz_aware_predicate_normalizes_to_true_utc(spark):
    """A tz-aware non-UTC datetime bound must normalize to TRUE epoch-µs
    (regression: subtracting an epoch carrying the value's own offset
    shifted the bound by the UTC offset and false-pruned files)."""
    import datetime as dt

    aware = dt.datetime(
        2024, 1, 1, 15, tzinfo=dt.timezone(dt.timedelta(hours=5))
    )  # == 10:00 UTC
    naive_utc = dt.datetime(2024, 1, 1, 10)
    assert _stat_value(aware) == _stat_value(naive_utc)


def test_in_predicate_prunes_and_matches_filter(table):
    vals = [5, 123, 307]
    got = {r["doc_id"] for r in table.read(
        where=[("doc_id", "in", vals)]
    ).collect()}
    assert got == set(vals)
    info = table.last_scan_info
    # batch 2 (keys 200-299) holds none of the probed values
    assert info["files_read"] < info["files_total"], info
    # empty / non-collection IN is refused
    with pytest.raises(ValueError, match="non-empty"):
        table.read(where=[("doc_id", "in", [])]).collect()
    with pytest.raises(ValueError, match="non-empty"):
        table.read(where=[("doc_id", "in", 5)]).collect()


def test_not_equal_predicate_matches_filter(table):
    got = {r["doc_id"] for r in table.read(
        where=[("doc_id", "!=", 123), ("doc_id", "<", 130)]
    ).collect()}
    assert got == set(range(130)) - {123}


def test_in_and_ne_entry_matching_rules():
    e = {"stats": {"doc_id": [100, 199]}, "stats_v": 2}
    assert _entry_matches(e, [("doc_id", "in", [5, 150])])
    assert not _entry_matches(e, [("doc_id", "in", [5, 307])])
    # mixed type category in the probe set → conservatively kept
    assert _entry_matches(e, [("doc_id", "in", ["x", 5])])
    # != prunes only a constant file equal to the excluded value
    assert _entry_matches(e, [("doc_id", "!=", 150)])
    const = {"stats": {"doc_id": [150, 150]}, "stats_v": 2}
    assert not _entry_matches(const, [("doc_id", "!=", 150)])
    assert _entry_matches(const, [("doc_id", "!=", 151)])
