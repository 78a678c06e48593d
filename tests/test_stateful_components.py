from multi_table_plugins_spark.operators.components import (
    connected_components,
    dedup_keep_canonical,
)


def test_connected_components_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8)], "id_a long, id_b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_dedup_keep_canonical(spark):
    df = spark.createDataFrame(
        [(i, f"text{i}") for i in range(1, 10)], "doc_id long, text string"
    )
    # chain 1-2-3 is NOT a clique: 1-3 have no direct pair; exact cluster
    # semantics must still keep only doc 1
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in dedup_keep_canonical(df, pairs).collect()}
    assert kept == {1, 4, 5, 7, 8, 9}


def test_commit_delta_retries_on_conflict(spark, tmp_table_dir):
    """A writer that loses the manifest-version race mid-commit must
    retry against the winner's manifest and land its append — neither
    commit may be lost (optimistic concurrency)."""
    from multi_table_plugins_spark.lakehouse import LakeTable
    from multi_table_plugins_spark.schemas import TARGET_SCHEMA
    from tests.test_lakehouse import _changes, _state

    t1 = LakeTable.create(spark, tmp_table_dir, TARGET_SCHEMA, n_buckets=2)
    t1.merge_into(_changes(spark, [(1, "I", "a", [1])]), app_id="w1", epoch=0)

    t2 = LakeTable(spark, tmp_table_dir)
    stale = __import__("json").loads(__import__("json").dumps(t2.manifest()))
    interfered = {"done": False}
    real_manifest = t2.manifest

    def racing_manifest(version=None):
        # simulate a concurrent winner: first read is stale, and the
        # winner publishes between our read and our publish
        if not interfered["done"]:
            interfered["done"] = True
            t1.merge_into(
                _changes(spark, [(2, "I", "b", [2])]), app_id="w1", epoch=1
            )
            return stale
        return real_manifest(version)

    t2.manifest = racing_manifest
    m = t2.commit_delta({}, TARGET_SCHEMA, app_id="w2", epoch=0)
    assert m["skipped"] is False
    t2.manifest = real_manifest
    # both the winner's row and the racer's (empty) commit landed
    assert _state(LakeTable(spark, tmp_table_dir)) == {"a": [1], "b": [2]}
    assert t2.last_committed_epoch("w2") == 0


def test_cc_union_find_equals_distributed_path(spark):
    """The adaptive small-graph union-find and the distributed
    pointer-jumping loop must label identically (comp = min member id)
    on a graph with chains, cliques, singleton-free structure and
    string ids."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 30, 2)]          # 2-chains
    edges += [(100 + a, 100 + b) for a in range(5) for b in range(a)]  # clique
    edges += [(rng.randint(200, 240), rng.randint(200, 240)) for _ in range(30)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").filter(
        "id_a <> id_b"
    )
    fast = {
        r["node"]: r["comp"]
        for r in connected_components(pairs).collect()  # union-find path
    }
    dist = {
        r["node"]: r["comp"]
        for r in connected_components(pairs, small_graph_edges=0).collect()
    }
    assert fast == dist and fast

    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    sfast = {r["node"]: r["comp"] for r in connected_components(spairs).collect()}
    assert sfast == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_ignores_null_edge_endpoints(spark):
    """Null endpoints participate in no pair on either path (regression:
    the union-find fast path raised TypeError comparing None to an id);
    mixed int/long endpoint columns label with the widened type."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (5, 6)], "id_a long, id_b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 5: 5, 6: 5}

    mixed = spark.createDataFrame([(1, 2)], "id_a int, id_b long")
    out = connected_components(mixed)
    assert out.schema["comp"].dataType.simpleString() == "bigint"
    assert {(r["node"], r["comp"]) for r in out.collect()} == {(1, 1), (2, 1)}
