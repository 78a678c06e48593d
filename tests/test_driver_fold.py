"""The driver lane of a small fold (``lakehouse.driver_fold``): its port
of Spark's bucket hash, its parity with the Spark lane, and its refusal
of files hashed with another bucket count."""

import contextlib
import os
import random
from datetime import datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.lakehouse.driver_fold import bucket_ids
from test_lakehouse import spark_lane, unreferenced_data_files


#: 1-, 2-, 3- and 4-byte UTF-8 characters, so string tails hold bytes
#: >= 0x80 (sign-extended by Spark's hashUnsafeBytes)
_CHARS = "ab7Z é€𝄞"


def _random_string(rng: random.Random) -> str:
    budget, out = rng.randint(0, 23), ""
    while True:
        c = rng.choice(_CHARS)
        if len((out + c).encode()) > budget:
            return out
        out += c


def test_bucket_ids_match_spark_hash(spark):
    """The numpy port equals ``pmod(hash(keys...), n)`` on 3,000 random
    rows: strings of 0-23 bytes (multi-byte UTF-8 included), ints and
    longs over their full range, nulls, single and compound keys, and
    three bucket counts (45,000 comparisons)."""
    rng = random.Random(17)

    def maybe(v):
        return None if rng.random() < 0.1 else v

    rows = [
        (
            maybe(_random_string(rng)),
            maybe(rng.randint(-(2**31), 2**31 - 1)),
            maybe(rng.randint(-(2**63), 2**63 - 1)),
        )
        for _ in range(3000)
    ]
    keysets = [["s"], ["i"], ["l"], ["s", "i"], ["l", "s", "i"]]
    ns = (4, 7, 16)
    df = spark.createDataFrame(rows, "s string, i int, l long")
    got = df.select(
        "*",
        *[
            F.pmod(F.hash(*ks), F.lit(n)).alias(f"{'_'.join(ks)}_{n}")
            for ks in keysets
            for n in ns
        ],
    ).collect()
    t = pa.table(
        {
            "s": pa.array([r["s"] for r in got], pa.string()),
            "i": pa.array([r["i"] for r in got], pa.int32()),
            "l": pa.array([r["l"] for r in got], pa.int64()),
        }
    )
    checked = 0
    for ks in keysets:
        for n in ns:
            want = [r[f"{'_'.join(ks)}_{n}"] for r in got]
            assert bucket_ids(t, ks, n).tolist() == want, (ks, n)
            checked += len(want)
    assert checked == 45_000


# --- lane parity ------------------------------------------------------------

V1 = (
    "lsn long, op string, k1 string, k2 int, a int, f float, "
    "d decimal(10,2), ts timestamp, arr array<int>"
)
V2 = (
    "lsn long, op string, k1 string, k2 int, a long, f double, "
    "d decimal(12,2), ts timestamp, arr array<int>, extra string"
)


def _ts(k):
    return datetime(2024, 1, 1 + k % 28, k % 24, tzinfo=timezone.utc)


def _build(spark, path):
    """A compound-key table whose deltas span two schema versions (int
    -> long, float -> double, decimal(10,2) -> decimal(12,2), an added
    column), with tombstones and null keys, and no fold yet."""
    lt = LakeTable.create(
        spark,
        path,
        spark.createDataFrame([], V1).drop("lsn", "op").schema,
        key=["k1", "k2"],
        n_buckets=4,
        compact_threshold=100,
        stats_columns=["a", "ts"],
    )
    keys = [(None if k % 11 == 0 else f"k{k % 9}", None if k % 13 == 0 else k % 5)
            for k in range(60)]
    v1 = [
        (10 + j, "D" if j % 7 == 0 else "U", k1, k2, j, j / 4, Decimal(j) / 4,
         _ts(j), [j, None])
        for j, (k1, k2) in enumerate(keys)
    ]
    lt.merge_into(spark.createDataFrame(v1, V1), app_id="p", epoch=0)
    v2 = [
        (100 + j, "D" if j % 5 == 0 else "U", k1, k2, 2**40 + j, j / 3,
         Decimal(10**9 + j) / 100, _ts(j + 3), [j] * (j % 3), f"x{j}")
        for j, (k1, k2) in enumerate(keys[::2])
    ]
    lt.merge_into(spark.createDataFrame(v2, V2), app_id="p", epoch=1)
    return lt


def _rows(lt):
    return sorted(
        (tuple(r) for r in lt.read(with_lsn=True).collect()), key=repr
    )


def _entries(lt):
    return {
        (b, part): sorted(
            ((e["rows"], e.get("stats")) for e in es), key=repr
        )
        for b, v in lt.manifest()["buckets"].items()
        for part, es in v.items()
    }


@pytest.mark.parametrize("minor", [False, True])
def test_driver_and_spark_lanes_fold_alike(spark, tmp_path, minor):
    """The same table folded once by each lane: equal ``read()`` rows
    (widened, null-filled, timestamp and array columns, tombstones
    hidden, null and compound keys) and equal manifest entry rows and
    stats, for a major and a minor fold."""
    drv = _build(spark, str(tmp_path / "driver"))
    spk = _build(spark, str(tmp_path / "spark"))
    assert _rows(drv) == _rows(spk)

    fold = LakeTable.compact_deltas if minor else LakeTable.compact
    r_drv = fold(drv)
    with spark_lane():
        r_spk = fold(spk)
    assert r_drv["fold_lane"] == "driver" and r_spk["fold_lane"] == "spark"
    key = "minor_compacted_buckets" if minor else "compacted_buckets"
    assert r_drv[key] == r_spk[key] and r_drv[key]
    assert drv.manifest()["op"] == spk.manifest()["op"]
    assert _rows(drv) == _rows(spk)
    assert _entries(drv) == _entries(spk)
    assert drv.schema() == spk.schema()
    assert drv.schema()["a"].dataType.simpleString() == "bigint"


@pytest.mark.parametrize("lane", ["driver", "spark"])
def test_fold_of_files_hashed_with_another_bucket_count_is_refused(
    spark, tmp_path, lane
):
    """A manifest whose bucket count no longer matches its files: the
    fold rehashes rows outside the folded buckets, raises, and deletes
    its run."""
    lt = _build(spark, str(tmp_path / "t"))

    def relayout(m):
        m["n_buckets"] = 7
        return True

    lt._commit_metadata("edit", relayout)
    head = lt.manifest()["version"]
    with spark_lane() if lane == "spark" else contextlib.nullcontext():
        with pytest.raises(RuntimeError, match="bucket-layout mismatch"):
            lt.compact()
    assert lt.manifest()["version"] == head
    assert not unreferenced_data_files(lt, lt.versions())
    assert not os.path.exists(os.path.join(str(tmp_path), "_staging"))
