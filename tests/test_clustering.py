"""Clustered compaction: ``compact(cluster=True)`` range-clusters each
bucket base on the key so per-file min/max stats prune INSIDE buckets
(an unclustered bucket base is one file spanning the whole key domain:
no interval predicate can ever skip it).

Soundness: pruned results must equal unpruned ones exactly.
"""

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from multi_table_plugins_spark.lakehouse import LakeTable

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


# ---------------------------------------------------------------------------
# clustered compaction
# ---------------------------------------------------------------------------


def test_clustered_compaction_prunes_in_bucket_ranges(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4
    )
    t.merge_into(
        _batch(spark, [(i, "I", i, [i], "s") for i in range(400)]),
        app_id="c",
        epoch=0,
    )
    t.compact(cluster=True, files_per_bucket=4)
    m = t.manifest()
    files = sum(len(b["base"]) for b in m["buckets"].values())
    assert files > 4  # multiple range files per bucket
    full = {r["doc_id"] for r in t.read().collect()}
    got = {
        r["doc_id"]
        for r in t.read(where=[("doc_id", ">=", 300)]).collect()
    }
    assert got == {i for i in full if i >= 300} and len(got) == 100
    info = t.last_scan_info
    assert info["files_read"] < info["files_total"], info


def test_unclustered_compaction_cannot_prune_in_bucket(spark, tmp_path):
    """Control: without clustering, each bucket base is one wide file —
    the same range predicate reads every file."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4
    )
    t.merge_into(
        _batch(spark, [(i, "I", i, [i], "s") for i in range(400)]),
        app_id="c",
        epoch=0,
    )
    t.compact()
    t.read(where=[("doc_id", ">=", 300)]).collect()
    info = t.last_scan_info
    assert info["files_read"] == info["files_total"]


def test_clustered_state_identical_and_updates_survive(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2
    )
    t.merge_into(
        _batch(spark, [(i, "I", i, [i], "s") for i in range(100)]),
        app_id="c",
        epoch=0,
    )
    t.merge_into(
        _batch(
            spark,
            [(1000 + k, "U", k, [k, k], "s2") for k in range(10)]
            + [(2000 + k, "D", 50 + k, None, None) for k in range(5)],
        ),
        app_id="c",
        epoch=1,
    )
    before = {
        r["doc_id"]: (r["tokens"], r["source"]) for r in t.read().collect()
    }
    t.compact(cluster=True, files_per_bucket=3)
    after = {
        r["doc_id"]: (r["tokens"], r["source"]) for r in t.read().collect()
    }
    assert after == before
    # lookup of an updated key through the clustered base
    got = t.lookup(3).collect()
    assert len(got) == 1 and got[0]["tokens"] == [3, 3]
    assert t.last_scan_info["files_read"] < t.last_scan_info["files_total"]
