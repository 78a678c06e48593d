"""Incremental near-dup against a persisted signature index: the probe
must (a) equal the full recompute on old ∪ new restricted to pairs
touching the new batch, (b) read only band-matched index partitions,
and (c) refuse parameter-mismatched appends."""

import os

import pytest
from pyspark.sql import functions as F

from multi_table_plugins_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from multi_table_plugins_spark.operators.incremental import (
    _BUCKET,
    build_signature_index,
    incremental_near_dup,
)

SF_DIR = "/root/testdata/sf0.001"
PARAMS = dict(num_hashes=32, num_bands=16, shingle_k=3, hash_fn="md5", band_hash="md5")
THRESHOLD = 0.3


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def _full_pairs_touching_new(docs):
    """Oracle-in-miniature: full LSH recompute over ALL docs, restricted
    to pairs where at least one side is in the new batch."""
    sigs = minhash_signatures(
        docs, num_hashes=32, shingle_k=3, hash_fn="md5"
    ).filter(F.size("shingles") > 0)
    pairs = lsh_candidate_pairs(
        sigs, num_bands=16, threshold=THRESHOLD, num_hashes=32, band_hash="md5"
    )
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 4))
        for r in pairs.collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }


def _probe_set(pairs_df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 4))
        for r in pairs_df.collect()
    }


def test_incremental_equals_full_recompute(spark, docs, tmp_path):
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    build_signature_index(old, idx, n_bh_buckets=32, **PARAMS)
    got = _probe_set(incremental_near_dup(spark, new, idx, threshold=THRESHOLD))
    want = _full_pairs_touching_new(docs)
    assert want, "fixture must produce at least one new-touching pair"
    assert got == want


def test_probe_reads_only_matched_partitions(spark, docs, tmp_path):
    old = docs.filter(F.col("doc_id") % 5 != 0)
    idx = str(tmp_path / "idx")
    build_signature_index(old, idx, n_bh_buckets=32, **PARAMS)
    n_parts = len(
        [d for d in os.listdir(os.path.join(idx, "bands")) if d.startswith(_BUCKET)]
    )
    # a tiny probe batch bands into far fewer buckets than the index has
    tiny = docs.filter(F.col("doc_id").isin(0, 5)).persist()
    assert tiny.count() == 2
    out = incremental_near_dup(spark, tiny, idx, threshold=THRESHOLD)
    out.collect()
    read_paths = out._mtp_probe_paths
    # 2 docs × 16 bands = at most 32 distinct buckets, and every read
    # path must be a real partition directory of the index
    assert 0 < len(read_paths) <= 32
    assert len(read_paths) < n_parts or n_parts <= 32
    for p in read_paths:
        assert os.path.isdir(p) and f"/{_BUCKET}=" in p
    tiny.unpersist()


def test_append_then_reprobe_is_stable(spark, docs, tmp_path):
    """Appending the new batch to the index and probing with it again
    must return the same pairs (self-matches are deduped, shingle store
    id collisions resolved), proving append + probe composes."""
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    build_signature_index(old, idx, n_bh_buckets=32, **PARAMS)
    before = _probe_set(incremental_near_dup(spark, new, idx, threshold=THRESHOLD))
    build_signature_index(new, idx, n_bh_buckets=32, mode="append", **PARAMS)
    after = _probe_set(incremental_near_dup(spark, new, idx, threshold=THRESHOLD))
    assert after == before


def test_append_rejects_mismatched_family(spark, docs, tmp_path):
    old = docs.filter(F.col("doc_id") % 5 != 0)
    idx = str(tmp_path / "idx")
    build_signature_index(old, idx, n_bh_buckets=32, **PARAMS)
    bad = dict(PARAMS, num_bands=8)
    with pytest.raises(ValueError, match="hash families must match"):
        build_signature_index(old, idx, n_bh_buckets=32, mode="append", **bad)


class _SpyFileIO:
    """Wraps a FileIO and records which primitives the index touched —
    proves the probe's partition-dir resolution goes through the seam
    (a direct os.path.isdir would leave ``isdir_paths`` empty)."""

    def __init__(self, inner):
        self._inner = inner
        self.isdir_paths = []
        self.read_text_paths = []
        self.write_text_paths = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def isdir(self, path):
        self.isdir_paths.append(path)
        return self._inner.isdir(path)

    def read_text(self, path):
        self.read_text_paths.append(path)
        return self._inner.read_text(path)

    def write_text(self, path, data):
        self.write_text_paths.append(path)
        return self._inner.write_text(path, data)


def test_index_io_routes_through_fileio_seam(spark, docs, tmp_path):
    """Build + probe with an explicit (spied) GenericFileIO: metadata
    writes/reads and every partition-dir existence probe must resolve
    via the seam, and the probe's answer must match the default-backend
    answer — the object-store-readiness ask of VERDICT r3 (#4)."""
    from multi_table_plugins_spark.lakehouse.fileio import GenericFileIO

    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    idx = str(tmp_path / "idx")
    io = _SpyFileIO(GenericFileIO())
    build_signature_index(old, idx, n_bh_buckets=32, fileio=io, **PARAMS)
    assert io.write_text_paths == [os.path.join(idx, "_index.json")]

    pairs = incremental_near_dup(
        spark, new, idx, threshold=THRESHOLD, fileio=io
    )
    got = _probe_set(pairs)
    # every matched probe path was resolved through the seam, and the
    # matched set is exactly the seam-confirmed directories
    assert io.read_text_paths and io.isdir_paths
    seam_dirs = {p for p in io.isdir_paths if f"/{_BUCKET}=" in p}
    assert set(pairs._mtp_probe_paths) <= seam_dirs
    assert got == _full_pairs_touching_new(docs)
    for c in pairs._mtp_cached:
        c.unpersist()


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
