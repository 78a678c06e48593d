import pytest
from pyspark.sql import functions as F

from multi_table_plugins_spark.functions.textfns import (
    doc_fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from multi_table_plugins_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_jaccard_pairs,
    simhash64,
)
from multi_table_plugins_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    hyperplane_lsh_topk,
)

SF = "/root/testdata/sf0.001"

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy cat and runs far away today"
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, NEAR),  # near dup of 1
        (4, FAR),
        (5, "the " + BASE),  # near dup, shifted
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=32, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, num_bands=16, threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found  # exact dup → jaccard 1.0
    assert (1, 3) in found or (1, 5) in found
    js = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert js[(1, 2)] == 1.0
    assert all(j >= 0.5 for j in js.values())
    assert not any({a, b} == {1, 4} for a, b in found)


def test_shingle_jaccard_pairs_never_pair_a_duplicate_id_with_itself(spark):
    sh = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (1, ["a", "b", "c"]), (2, ["a", "b", "d"]), (3, ["x"])],
        "doc_id long, shingles array<string>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in shingle_jaccard_pairs(sh, threshold=0.0).collect()}
    assert pairs == {(1, 2)}


def test_simhash_is_jvm_expression(docs):
    # whole computation stays in Tungsten: no BatchEvalPython in the plan
    plan = docs.select(simhash64("text")).queryExecution if False else None
    jplan = docs.select(simhash64("text").alias("sh"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in jplan and "ArrowEvalPython" not in jplan


def test_cosine_topk_and_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, emb, k=10)
    got = exact.groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in got)
    # sims sorted descending per query
    rows = exact.filter(F.col("query_id") == 0).orderBy("rank").collect()
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    approx = hyperplane_lsh_topk(queries, emb, k=10, n_planes=4, dim=64)
    e = {(r["query_id"], r["candidate_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["candidate_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.2  # single-probe LSH at 16 buckets over 500 vecs


def test_embedding_near_dup_pairs(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # plant an exact duplicate vector
    dup = emb.limit(1).withColumn("vec_id", F.lit(99999).cast("long"))
    pairs = embedding_near_dup_pairs(emb.unionByName(dup), threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    first_id = emb.limit(1).collect()[0]["vec_id"]
    assert (first_id, 99999) in found


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("the cat and the dog", 19), ("der hund ist und das", 20), ("", 0)],
        "text string, n_chars int",
    )
    out = df.select(
        token_count("text").alias("tc"),
        lang_id("text").alias("lang"),
        doc_fingerprint("text").alias("fp"),
        quality_score("text", "n_chars").alias("q"),
    ).collect()
    assert out[0]["tc"] == 5
    assert out[0]["lang"] == "en"
    assert out[1]["lang"] == "de"
    assert out[2]["lang"] == "und"
    # fingerprint is word-order and duplicate insensitive
    df2 = spark.createDataFrame(
        [("dog the cat and", 1), ("the cat and the dog", 1)], "text string, x int"
    )
    fps = [r[0] for r in df2.select(doc_fingerprint("text")).collect()]
    assert fps[0] == fps[1]
    assert 0 <= out[0]["q"] <= 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    got = df.select(word_shingles("text", 2).alias("s")).collect()[0]["s"]
    assert got == ["a b", "b c", "c d"]
