"""Round-3 review-fix regression tests: key-mismatch commit guard,
empty-key refusal, cache-release through .filter(), crash-safe generic
manifest publish, listener cleanup on failed start."""

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

from multi_table_plugins_spark.lakehouse import LakeTable
from multi_table_plugins_spark.lakehouse.fileio import GenericFileIO
from multi_table_plugins_spark.streaming import apply_cdc_batch

PAYLOAD = StructType(
    [
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
    ]
)

FEED = StructType(
    [
        StructField("lsn", LongType(), False),
        StructField("table_name", StringType(), False),
        StructField("op", StringType(), False),
        StructField("k1", StringType(), False),
        StructField("k2", LongType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
    ]
)


def _feed(spark, rows):
    return spark.createDataFrame(
        [
            (l, t, o, a, b, [1] * n if n is not None else None, n)
            for l, t, o, a, b, n in rows
        ],
        FEED,
    )


def test_create_rejects_empty_key(spark, tmp_table_dir):
    with pytest.raises(ValueError, match="at least one column"):
        LakeTable.create(spark, tmp_table_dir, PAYLOAD, key=[], n_buckets=2)
    # nothing half-created on disk
    assert not LakeTable.exists(tmp_table_dir)


def test_merge_refuses_key_order_mismatch(spark, tmp_path):
    """A batch bucketed on a reordered key tuple must be refused — the
    bucket hash is order-sensitive, so committing it would corrupt the
    table layout silently."""
    wh = str(tmp_path / "wh")
    b0 = _feed(spark, [(1, "ta", "I", "x", 1, 2)])
    apply_cdc_batch(
        spark, b0, wh, epoch=0, app_id="kg", n_buckets=4, key_col=["k1", "k2"]
    )
    b1 = _feed(spark, [(2, "ta", "U", "x", 1, 3)])
    with pytest.raises(Exception, match="key"):
        apply_cdc_batch(
            spark, b1, wh, epoch=1, app_id="kg", n_buckets=4,
            key_col=["k2", "k1"], error_mode="fail",
        )
    # table state untouched by the refused batch
    ta = LakeTable(spark, os.path.join(wh, "ta"))
    assert {r["n_tok"] for r in ta.read().collect()} == {2}


def test_incremental_index_releases_minhash_cache(spark, tmp_path):
    """build_signature_index must release the persisted minhash base
    frame even though .filter() hides the _mtp_cached attribute."""
    from multi_table_plugins_spark.operators.incremental import (
        build_signature_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    build_signature_index(
        docs, str(tmp_path / "idx"), num_hashes=8, num_bands=4, hash_fn="md5"
    )
    assert jsc.getPersistentRDDs().size() == before


def test_probe_exposes_all_cached_frames(spark, tmp_path):
    from multi_table_plugins_spark.operators.incremental import (
        build_signature_index,
        incremental_near_dup,
    )

    corpus = spark.createDataFrame(
        [(i, f"one two three four five {i} six") for i in range(20)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_signature_index(corpus, idx, num_hashes=8, num_bands=4, hash_fn="md5")
    new = spark.createDataFrame(
        [(100, "one two three four five 1 six")], "doc_id long, text string"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pairs = incremental_near_dup(spark, new, idx, threshold=0.5)
    pairs.collect()
    assert isinstance(pairs._mtp_cached, list) and len(pairs._mtp_cached) == 2
    for frame in pairs._mtp_cached:
        frame.unpersist()
    assert jsc.getPersistentRDDs().size() == before


def test_generic_publish_is_atomic_and_cas(tmp_path):
    """The generic manifest publish stages the full body and claims the
    slot atomically: no partial content is ever at the published path,
    a lost race raises FileExistsError, and no temp files remain."""
    io = GenericFileIO()
    p = str(tmp_path / "manifest-00000001.json")
    io.publish_atomic(p, '{"v": 1}')
    assert io.read_text(p) == '{"v": 1}'
    with pytest.raises(FileExistsError):
        io.publish_atomic(p, '{"v": 2}')
    assert io.read_text(p) == '{"v": 1}'  # loser did not clobber
    leftovers = [n for n in os.listdir(tmp_path) if n.startswith(".tmp-")]
    assert leftovers == []


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
