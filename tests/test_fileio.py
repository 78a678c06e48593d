"""FileIO seam: driver-side commit IO must behave identically under the
``local`` (hard links + link CAS) and ``generic`` (copy +
exclusive-create — the object-store conditional-PUT shape) backends.

The whole suite can additionally be run end-to-end under generic with
``MTP_FILEIO=generic python -m pytest tests/`` (recorded in BASELINE.md);
these tests pin the seam's contract explicitly and compare the two
backends' final warehouse state on the same feed.
"""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from multi_table_plugins_spark.lakehouse import (
    CommitConflict,
    GenericFileIO,
    LakeTable,
    LocalFileIO,
    get_fileio,
)
from multi_table_plugins_spark.schemas import TARGET_SCHEMA

BACKENDS = [LocalFileIO(), GenericFileIO()]
IDS = ["local", "generic"]


# ---------------------------------------------------------------------------
# unit: the CAS + placement primitives
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("io", BACKENDS, ids=IDS)
def test_publish_atomic_is_cas(tmp_path, io):
    p = str(tmp_path / "manifest-00000001.json")
    io.publish_atomic(p, '{"v": 1}')
    assert json.loads(io.read_text(p)) == {"v": 1}
    with pytest.raises(FileExistsError):
        io.publish_atomic(p, '{"v": "loser"}')
    # the winner's content is untouched by the losing attempt
    assert json.loads(io.read_text(p)) == {"v": 1}


@pytest.mark.parametrize("io", BACKENDS, ids=IDS)
def test_publish_race_exactly_one_winner(tmp_path, io):
    p = str(tmp_path / "manifest-00000042.json")
    results = []
    barrier = threading.Barrier(8)

    def attempt(i):
        barrier.wait()
        try:
            io.publish_atomic(p, json.dumps({"writer": i}))
            results.append(i)
        except FileExistsError:
            pass

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 1
    assert json.loads(io.read_text(p)) == {"writer": results[0]}


def test_add_file_semantics(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"payload")
    local, generic = LocalFileIO(), GenericFileIO()
    dl, dg = str(tmp_path / "linked"), str(tmp_path / "copied")
    local.add_file(str(src), dl)
    generic.add_file(str(src), dg)
    assert open(dl, "rb").read() == open(dg, "rb").read() == b"payload"
    # local promotes by hard link (zero copy); generic must not assume
    # link support — it materializes an independent object
    assert os.stat(dl).st_ino == os.stat(src).st_ino
    assert os.stat(dg).st_ino != os.stat(src).st_ino


def test_get_fileio_resolution(monkeypatch):
    assert get_fileio("local").name == "local"
    assert get_fileio("generic").name == "generic"
    inst = GenericFileIO()
    assert get_fileio(inst) is inst
    monkeypatch.setenv("MTP_FILEIO", "generic")
    assert get_fileio(None).name == "generic"
    monkeypatch.delenv("MTP_FILEIO")
    assert get_fileio(None).name == "local"
    with pytest.raises(ValueError):
        get_fileio("s3-that-does-not-exist")


# ---------------------------------------------------------------------------
# table layer under generic: merge/ledger/conflict semantics unchanged
# ---------------------------------------------------------------------------

def _changes(spark, rows):
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("n_tok", IntegerType(), True),
            StructField("source", StringType(), True),
        ]
    )
    return spark.createDataFrame(
        [(l, o, k, t, len(t) if t is not None else None, "web") for l, o, k, t in rows],
        ch,
    )


def test_laketable_roundtrip_generic(spark, tmp_path):
    io = GenericFileIO()
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"), TARGET_SCHEMA, n_buckets=4, io=io
    )
    t.merge_into(
        _changes(spark, [(1, "I", "a", [1, 2]), (2, "I", "b", [3])]),
        app_id="g",
        epoch=0,
    )
    t.merge_into(
        _changes(spark, [(3, "D", "b", None), (4, "U", "a", [9])]),
        app_id="g",
        epoch=1,
    )
    state = {r["doc_id"]: r["tokens"] for r in t.read().collect()}
    assert state == {"a": [9]}
    # exactly-once ledger: replaying a committed epoch is a no-op
    m = t.merge_into(
        _changes(spark, [(99, "U", "a", [0])]), app_id="g", epoch=1
    )
    assert m["skipped"]
    assert {r["doc_id"]: r["tokens"] for r in t.read().collect()} == {"a": [9]}
    # version race maps to CommitConflict under generic too
    v = t.manifest()["version"]
    stale = json.loads(json.dumps(t.manifest()))
    stale["version"] = v  # re-publish the SAME version number
    with pytest.raises(CommitConflict):
        t._publish(stale)


# ---------------------------------------------------------------------------
# whole-pipeline equivalence: local vs generic on the same feed
# ---------------------------------------------------------------------------

def test_cdc_replay_equal_state_local_vs_generic(spark, tmp_path):
    from multi_table_plugins_spark.feed import FeedSpec, generate_feed
    from multi_table_plugins_spark.streaming import replay_feed_batches

    feed_dir = str(tmp_path / "feed")
    files = generate_feed(
        feed_dir,
        FeedSpec(n_events=4000, n_tables=2, keys_per_table=150, n_files=4, seed=7),
    )

    def run(backend: str) -> dict:
        wh = str(tmp_path / f"wh_{backend}")
        replay_feed_batches(
            spark, files, wh, files_per_batch=2, n_buckets=4, io=backend
        )
        out = {}
        for t in sorted(os.listdir(wh)):
            if t.startswith("_"):
                continue
            lt = LakeTable(spark, os.path.join(wh, t), io=get_fileio(backend))
            out[t] = {
                r["doc_id"]: (list(r["tokens"]) if r["tokens"] is not None else None)
                for r in lt.read().collect()
            }
        return out

    local_state = run("local")
    generic_state = run("generic")
    assert local_state.keys() == generic_state.keys()
    assert local_state == generic_state
    assert sum(len(v) for v in local_state.values()) > 0


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
