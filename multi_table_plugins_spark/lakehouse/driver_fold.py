"""The driver lane of a small fold: Arrow reads, resolves and buckets
each (table, bucket) of a fold without a Spark job.

For a fold this small a Spark job buys little parallelism — AQE
coalesces its resolve into one or a few reduce tasks — and costs its
fixed price: planning, task launch and code the JIT has not compiled. :func:`table.fold_tables`
decides which folds are small enough (``table.DRIVER_FOLD_MAX_BYTES``)
and which tables this lane :func:`supports`, hands it the entries to
:func:`fold`, and then places and commits the run exactly as it does a
Spark fold's.

Bucket ids are recomputed with a numpy port of Spark's ``hash()``
(``Murmur3_x86_32``, seed 42) so that a fold of files hashed with a
different bucket count is still refused at commit, as on the Spark lane.
"""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T

from ..schemas import LSN_COL

#: Spark leaf types the lane reads, casts and writes, with the Arrow type
#: Spark's parquet reader maps back to each
_ARROW_LEAVES = {
    T.BooleanType: pa.bool_(),
    T.ByteType: pa.int8(),
    T.ShortType: pa.int16(),
    T.IntegerType: pa.int32(),
    T.LongType: pa.int64(),
    T.FloatType: pa.float32(),
    T.DoubleType: pa.float64(),
    T.StringType: pa.string(),
    T.BinaryType: pa.binary(),
    T.DateType: pa.date32(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
    T.TimestampNTZType: pa.timestamp("us"),
}

#: key types whose Spark hash the port reproduces (default-collation
#: strings only: a collated key groups and hashes differently)
HASHABLE_KEYS = (T.StringType(), T.IntegerType(), T.LongType())

#: Spark parquet ``compression`` values Arrow writes alike
CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
          "gzip": "gzip", "zstd": "zstd"}


def supports(target: T.StructType, keys: "list[str]", write_opts: dict) -> bool:
    """Whether this lane folds a table of schema ``target`` keyed on
    ``keys`` into files written as the Spark writer options
    ``write_opts`` say: every key a type the hash port covers, every
    column a type Arrow writes as Spark does, and a codec Arrow has."""
    fields = {f.name: f.dataType for f in target.fields}
    return (
        all(fields[k] in HASHABLE_KEYS for k in keys)
        and arrow_schema(target) is not None
        and write_opts.get("compression") in CODECS
    )


def fold(units: list, target: T.StructType, keys: "list[str]", write_opts: dict,
         threads: int) -> None:
    """Fold every unit ``(io, files, n_buckets, out)`` on ``threads``
    threads. ``files`` pairs each entry's path with the columns of its
    schema version; they are read through ``io``, conformed to
    ``target`` and resolved to the max-``_lsn`` row per key (tombstones
    included). Each row is written to ``out.format(bucket)``, the bucket
    Spark's hash gives it, as one parquet file per bucket with the Spark
    writer options ``write_opts`` (``compression``,
    ``parquet.enable.dictionary``)."""
    schema = arrow_schema(target)
    opts = {
        "compression": CODECS[write_opts["compression"]],
        "use_dictionary": write_opts.get("parquet.enable.dictionary", "true") == "true",
    }

    def one(unit) -> None:
        io, files, n_buckets, out = unit
        t = latest_per_key(
            pa.concat_tables([read_conformed(io, p, names, schema) for p, names in files]),
            keys,
        )
        ids = bucket_ids(t, keys, n_buckets)
        for b in np.unique(ids):
            d = out.format(b)
            io.makedirs(d)
            pq.write_table(
                t.filter(pa.array(ids == b)),
                os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"),
                **opts,
            )

    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(one, units))


def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct([(f.name, _arrow_type(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return _ARROW_LEAVES[type(dt)]


def arrow_schema(schema: T.StructType) -> "pa.Schema | None":
    """``schema`` as the Arrow schema the lane writes (every column
    nullable, as a missing column is null-filled), or None when a column
    has a type the lane does not handle."""
    try:
        return pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])
    except KeyError:
        return None


def read_conformed(io, path: str, names: "list[str]", schema: pa.Schema) -> pa.Table:
    """The columns ``names`` (the file schema of the entry's version) of
    the parquet file at ``path``, read through the FileIO seam and
    conformed to ``schema`` the way ``table._conform`` does: casts widen,
    missing columns are null-filled."""
    with io.open_input(path) as f:
        pf = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
        have = set(pf.schema_arrow.names)
        t = pf.read(columns=[c for c in names if c in have])
    return pa.table(
        [
            t[f.name].cast(f.type) if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def latest_per_key(t: pa.Table, keys: "list[str]") -> pa.Table:
    """One row per key tuple: the row with the max ``_lsn`` (tombstones
    included). Null keys are equal to each other, as in Spark's
    ``groupBy``."""
    t = t.take(pc.sort_indices(t, sort_keys=[(LSN_COL, "descending")]))
    first = (
        t.select(keys)
        .append_column("__row", pa.array(np.arange(t.num_rows)))
        .group_by(keys)
        .aggregate([("__row", "min")])
    )
    return t.take(first["__row_min"])


# --- Spark's hash(): Murmur3_x86_32 -----------------------------------------
_C1, _C2 = np.uint32(0xCC9E2D51), np.uint32(0x1B873593)
SEED = 42


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1(k: np.ndarray) -> np.ndarray:
    return _rotl(k * _C1, 15) * _C2


def _mix_h1(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    return _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix(h: np.ndarray, length) -> np.ndarray:
    h = h ^ np.asarray(length, dtype=np.uint32)
    h = (h ^ (h >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h = (h ^ (h >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return h ^ (h >> np.uint32(16))


def _hash_bytes(col: pa.Array, h: np.ndarray) -> np.ndarray:
    """``hashUnsafeBytes`` of every value: whole little-endian 4-byte
    words, then each tail byte sign-extended (the pre-2.3 variant Spark
    keeps for strings)."""
    arr = col.cast(pa.large_binary())
    _, offsets, data = arr.buffers()
    offs = np.frombuffer(offsets, dtype=np.int64)[arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else np.zeros(0, np.uint8)
    starts, lens = offs[:-1], np.diff(offs)
    words = lens // 4
    h = h.copy()
    for j in range(int(words.max(initial=0))):
        m = words > j
        at = starts[m] + 4 * j
        w = data[at].astype(np.uint32)
        for s in (1, 2, 3):
            w |= data[at + s].astype(np.uint32) << np.uint32(8 * s)
        h[m] = _mix_h1(h[m], _mix_k1(w))
    for j in range(3):
        m = lens % 4 > j
        b = data[starts[m] + 4 * words[m] + j].view(np.int8).astype(np.int32)
        h[m] = _mix_h1(h[m], _mix_k1(b.view(np.uint32)))
    return _fmix(h, lens)


def _hash_column(col: pa.Array, h: np.ndarray) -> np.ndarray:
    if pa.types.is_string(col.type):
        return _hash_bytes(col, h)
    v = col.fill_null(0).to_numpy()
    if pa.types.is_int32(col.type):  # hashInt
        return _fmix(_mix_h1(h, _mix_k1(v.view(np.uint32))), 4)
    if pa.types.is_int64(col.type):  # hashLong: low word, then high word
        u = v.view(np.uint64)
        h = _mix_h1(h, _mix_k1((u & np.uint64(0xFFFFFFFF)).astype(np.uint32)))
        h = _mix_h1(h, _mix_k1((u >> np.uint64(32)).astype(np.uint32)))
        return _fmix(h, 8)
    raise TypeError(f"no Spark hash port for key type {col.type}")


def bucket_ids(t: pa.Table, keys: "list[str]", n_buckets: int) -> np.ndarray:
    """``pmod(hash(keys...), n_buckets)`` of every row, as Spark computes
    it: each key column re-seeds the next, and a null key leaves the
    running hash unchanged."""
    h = np.full(t.num_rows, SEED, dtype=np.uint32)
    for k in keys:
        col = t[k].combine_chunks()
        h = np.where(col.is_valid().to_numpy(zero_copy_only=False), _hash_column(col, h), h)
    return h.view(np.int32).astype(np.int64) % n_buckets
