"""Incremental near-duplicate detection against a PERSISTED signature
index — the real LLM-pipeline workflow: "dedup this new crawl batch
against the existing corpus" without recomputing the corpus.

Layout on disk (``index_path/``):

  * ``bands/`` — the slim LSH banding frame ``(doc_id, band, bh)``
    written ``partitionBy(bh_bucket)`` where
    ``bh_bucket = pmod(murmur3(bh), n_bh_buckets)``. The probe computes
    its OWN bands' buckets and reads only those partition directories —
    a small new batch touches a few buckets, so probe IO is
    O(matched buckets), never O(index).
  * ``shingles/`` — ``(doc_id, shingles)`` for exact-Jaccard
    verification of candidates (read once, joined keyed on doc_id —
    bounded by the candidate set after the bucket-pruned generation).
  * ``_index.json`` — the hash-family parameters; a probe MUST band
    with the exact same family or candidates are garbage, so they are
    read back rather than trusted to the caller.

Equivalence guarantee (oracle-checked by ``incremental_near_dup`` in
the driver contract): pairs(new batch vs index) ∪ pairs(new vs new)
computed here equals the full LSH recompute over (old ∪ new) restricted
to pairs touching the new batch — candidate generation is "share ≥ 1
band bucket" in both formulations, and verification is exact Jaccard
over the full shingle sets on both sides.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lakehouse.fileio import get_fileio
from .dedup import band_hash_frame, jaccard_distinct, minhash_signatures

_BANDS_DIR = "bands"
_SHINGLES_DIR = "shingles"
_META = "_index.json"
_BUCKET = "bh_bucket"


def build_signature_index(
    docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "md5",
    band_hash: str = "md5",
    n_bh_buckets: int = 64,
    mode: str = "overwrite",
    fileio=None,
) -> dict:
    """Compute MinHash signatures for ``docs`` and persist the banding
    index + shingle sets. ``mode="append"`` adds a new batch to an
    existing index (parameters must match — checked against
    ``_index.json``). Returns the index metadata.

    All driver-side index IO (metadata read/write, partition-dir
    existence probes) goes through the lakehouse FileIO seam so the
    index works on object-store-shaped storage too (``fileio`` an
    instance/name, default ``$MTP_FILEIO``)."""
    io = get_fileio(fileio)
    meta = {
        "id_col": id_col,
        "num_hashes": num_hashes,
        "num_bands": num_bands,
        "shingle_k": shingle_k,
        "hash_fn": hash_fn,
        "band_hash": band_hash,
        "n_bh_buckets": n_bh_buckets,
    }
    meta_path = os.path.join(index_path, _META)
    if mode == "append" and io.exists(meta_path):
        existing = json.loads(io.read_text(meta_path))
        if existing != meta:
            raise ValueError(
                f"index at {index_path} was built with {existing}, "
                f"append requested with {meta} — hash families must match"
            )
    # keep the handle minhash_signatures attached its persisted base
    # frame to — .filter() returns a NEW DataFrame without the attribute,
    # so releasing via the filtered frame would silently leak the cache
    raw_sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_k, hash_fn
    )
    sigs = raw_sigs.filter(F.size("shingles") > 0)
    bands = band_hash_frame(sigs, id_col, num_bands, num_hashes, band_hash)
    (
        bands.withColumn(_BUCKET, F.pmod(F.hash("bh"), F.lit(n_bh_buckets)))
        .repartition(F.col(_BUCKET))
        .write.partitionBy(_BUCKET)
        .mode(mode)
        .parquet(os.path.join(index_path, _BANDS_DIR))
    )
    sigs.select(id_col, "shingles").write.mode(mode).parquet(
        os.path.join(index_path, _SHINGLES_DIR)
    )
    io.makedirs(index_path)
    io.write_text(meta_path, json.dumps(meta))
    cached = getattr(raw_sigs, "_mtp_cached", None)
    if cached is not None:
        cached.unpersist()
    return meta


def _matched_band_paths(
    bands_root: str, buckets: list[int], io
) -> list[str]:
    """The partition directories the probe actually needs — explicit
    path selection (not a post-hoc filter) so 'reads only band-matched
    data' is structural. Existence probes go through the FileIO seam:
    direct ``os.path.isdir`` would silently find ZERO partition dirs on
    an object store and the probe would miss every indexed duplicate."""
    out = []
    for b in sorted(set(buckets)):
        p = os.path.join(bands_root, f"{_BUCKET}={b}")
        if io.isdir(p):
            out.append(p)
    return out


def incremental_near_dup(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    threshold: float = 0.7,
    fileio=None,
) -> DataFrame:
    """Near-dup pairs ``(id_a < id_b, jaccard ≥ threshold)`` touching the
    new batch: new-vs-indexed-corpus plus new-vs-new, WITHOUT recomputing
    the corpus. Index IO: only the partition directories matching the
    new batch's band buckets are read (see _matched_band_paths), plus
    one keyed pass over the shingle store for verification.

    Returns the pair frame; ``df._mtp_probe_paths`` carries the index
    partition directories actually read (tests assert the pruning)."""
    io = get_fileio(fileio)
    meta = json.loads(io.read_text(os.path.join(index_path, _META)))
    id_col = meta["id_col"]

    raw_sigs = minhash_signatures(
        new_docs,
        text_col,
        id_col,
        meta["num_hashes"],
        meta["shingle_k"],
        meta["hash_fn"],
    )
    sigs = raw_sigs.filter(F.size("shingles") > 0)
    new_bands = band_hash_frame(
        sigs, id_col, meta["num_bands"], meta["num_hashes"], meta["band_hash"]
    ).withColumn(_BUCKET, F.pmod(F.hash("bh"), F.lit(meta["n_bh_buckets"])))
    new_bands = new_bands.persist()

    # which index partitions can possibly hold a colliding band? the
    # distinct bucket list is bounded by n_bh_buckets (tiny) — a
    # driver-side plan decision, not a data collect
    buckets = [r[0] for r in new_bands.select(_BUCKET).distinct().collect()]
    bands_root = os.path.join(index_path, _BANDS_DIR)
    paths = _matched_band_paths(bands_root, buckets, io)

    if paths:
        idx_bands = spark.read.option("basePath", bands_root).parquet(*paths)
    else:
        idx_bands = None

    nb = new_bands.select(
        F.col(id_col).alias("_nid"), "band", "bh"
    )
    cands = None
    if idx_bands is not None:
        ib = idx_bands.select(F.col(id_col).alias("_oid"), "band", "bh")
        # new docs may already be IN the index (append-then-probe):
        # the tuple-ordered ids below also dedupe that self-match away
        new_old = (
            nb.join(ib, ["band", "bh"])
            .filter(F.col("_nid") != F.col("_oid"))
            .select(
                F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"),
            )
        )
        cands = new_old
    new_new = (
        nb.alias("l")
        .join(
            nb.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._nid") < F.col("r._nid")),
        )
        .select(
            F.col("l._nid").alias("id_a"), F.col("r._nid").alias("id_b")
        )
    )
    cands = new_new if cands is None else cands.unionByName(new_new)
    cands = cands.dropDuplicates(["id_a", "id_b"])

    # exact-Jaccard verification over FULL shingle sets: new side from
    # this batch, old side from the shingle store (keyed join, bounded
    # by the candidate set)
    new_sh = sigs.select(F.col(id_col), F.col("shingles"))
    idx_sh_path = os.path.join(index_path, _SHINGLES_DIR)
    idx_sh = spark.read.parquet(idx_sh_path).select(
        F.col(id_col), F.col("shingles")
    )
    # prefer the fresh batch's shingles on id collision (append case) —
    # they are identical by construction, so anti-join is just dedup
    all_sh = new_sh.unionByName(
        idx_sh.join(new_sh.select(id_col), id_col, "left_anti")
    )
    pairs = (
        cands.join(
            all_sh.withColumnsRenamed({id_col: "id_a", "shingles": "_sa"}),
            "id_a",
        )
        .join(
            all_sh.withColumnsRenamed({id_col: "id_b", "shingles": "_sb"}),
            "id_b",
        )
        .select(
            "id_a", "id_b", jaccard_distinct(F.col("_sa"), F.col("_sb")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    pairs._mtp_probe_paths = paths
    # both persisted frames the probe holds: the banded batch AND the
    # minhash base (raw_sigs' attachment would be lost through .filter)
    pairs._mtp_cached = [new_bands] + (
        [raw_sigs._mtp_cached] if hasattr(raw_sigs, "_mtp_cached") else []
    )
    return pairs
