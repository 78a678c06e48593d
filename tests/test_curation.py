"""Curation + SCD2 operator semantics that the oracle parity check
can't see: scale-shape assertions (no single-partition global window),
determinism under repartitioning, interval algebra, and detection on
crafted PII."""

import pytest
from pyspark.sql import Row, Window, functions as F

from multi_table_plugins_spark.operators.curation import (
    contamination_overlap,
    pii_scrub,
    repetition_metrics,
    sample_key,
    sequence_pack,
    stratified_sample,
)
from multi_table_plugins_spark.operators.scd2 import scd2_history


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- packing

def test_sequence_pack_matches_naive_on_sparse_ids(spark):
    # non-dense, non-zero-based ids in scrambled input order
    rows = [(i * 7 + 100, (i * 13) % 50 + 1) for i in range(500)]
    import random

    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(8)
    got = sequence_pack(df, "doc_id", "n_tokens", budget=64, num_splits=6)

    naive = df.withColumn(
        "start_offset",
        F.coalesce(
            F.sum("n_tokens").over(
                Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    expect = {
        r["doc_id"]: (r["start_offset"], r["start_offset"] // 64, r["start_offset"] % 64)
        for r in naive.collect()
    }
    for r in got.collect():
        assert (r["start_offset"], r["seq_id"], r["offset_in_seq"]) == expect[r["doc_id"]]


def test_sequence_pack_no_global_single_partition_window(spark):
    df = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    got = sequence_pack(df, "doc_id", "n_tokens", budget=128, num_splits=8)
    p = _plan(got)
    # the window must be keyed on split_id (hash exchange), never a
    # SinglePartition collapse — the classic packing scale-killer
    assert "SinglePartition" not in p
    assert "hashpartitioning(split_id" in p


def test_sequence_pack_empty_and_bad_budget(spark):
    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert sequence_pack(empty, "doc_id", "n_tokens", budget=10).count() == 0
    with pytest.raises(ValueError):
        sequence_pack(empty, "doc_id", "n_tokens", budget=0)


# ---------------------------------------------------------------- sampling

def test_stratified_sample_deterministic_and_stratified(spark):
    df = spark.range(0, 20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    fr = {"en": 0.5, "de": 0.1}
    a = stratified_sample(df, "doc_id", "lang", fr)
    b = stratified_sample(df.repartition(13), "doc_id", "lang", fr)
    ids_a = {r["doc_id"] for r in a.collect()}
    ids_b = {r["doc_id"] for r in b.collect()}
    assert ids_a == ids_b  # partitioning-independent, unlike df.sample
    rates = {
        r["lang"]: r["k"] / r["n"]
        for r in df.join(a.select("doc_id").withColumn("_k", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.count("_k").alias("k"))
        .collect()
    }
    assert abs(rates["en"] - 0.5) < 0.03 and abs(rates["de"] - 0.1) < 0.02


def test_sample_key_seed_changes_selection(spark):
    df = spark.range(0, 5_000).select(F.col("id").alias("doc_id"))
    k1 = {r["doc_id"] for r in df.where(sample_key("doc_id", "s1") < 0.2).collect()}
    k2 = {r["doc_id"] for r in df.where(sample_key("doc_id", "s2") < 0.2).collect()}
    assert k1 != k2 and 800 < len(k1) < 1200


# ---------------------------------------------------------------- SCD2

def _events(spark):
    rows = [
        Row(k=1, ts=10, eid=1, v="a"),
        Row(k=1, ts=20, eid=2, v="b"),
        Row(k=1, ts=20, eid=3, v="c"),  # tie on ts -> eid breaks it
        Row(k=1, ts=40, eid=4, v="d"),
        Row(k=2, ts=15, eid=5, v="x"),
    ]
    return spark.createDataFrame(rows)


def test_scd2_intervals_partition_the_timeline(spark):
    hist = scd2_history(_events(spark), ["k"], ["ts", "eid"], ["v"]).collect()
    by_key = {}
    for r in sorted(hist, key=lambda r: (r["k"], r["version_num"])):
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        assert [r["version_num"] for r in versions] == list(range(1, len(versions) + 1))
        assert sum(r["is_current"] for r in versions) == 1
        assert versions[-1]["is_current"] and versions[-1]["valid_to"] is None
        for cur, nxt in zip(versions, versions[1:]):
            assert cur["valid_to"] == nxt["valid_from"]  # contiguous, no gaps
    # the ts tie is ordered by eid: 'b' (eid=2) precedes 'c' (eid=3)
    k1 = [r["v"] for r in by_key[1]]
    assert k1 == ["a", "b", "c", "d"]


def test_scd2_history_needs_a_key(spark):
    with pytest.raises(ValueError):
        scd2_history(_events(spark), [], ["ts"], ["v"])


# ---------------------------------------------------------------- PII

def test_pii_scrub_detects_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@mail.example.org now"),
            (2, "server 192.168.1.255 and card 1234567890123456"),
            (3, "clean text with short 123 and 12345678 numbers"),
            (4, "ref 1234567890@example.com only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_idnums"]) == (1, 0, 0)
    assert "<EMAIL>" in out[1]["redacted_text"]
    assert "alice" not in out[1]["redacted_text"]
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_idnums"]) == (0, 1, 1)
    assert "<IP>" in out[2]["redacted_text"] and "<IDNUM>" in out[2]["redacted_text"]
    # 8-digit run is below the >=9 id threshold: untouched
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_idnums"]) == (0, 0, 0)
    assert out[3]["redacted_text"] == "clean text with short 123 and 12345678 numbers"
    # counts reflect the redaction composition: the 10-digit run is
    # consumed by the email pass, so it is NOT also counted as an idnum
    assert (out[4]["n_emails"], out[4]["n_idnums"]) == (1, 0)
    assert out[4]["redacted_text"] == "ref <EMAIL> only"
    p = _plan(pii_scrub(df))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# ----------------------------------------------------- contamination

def test_contamination_overlap_bounds_and_leak(spark):
    eval_text = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (0, eval_text),  # eval slice (0 % 5 == 0)
        (1, eval_text),  # full leak -> frac 1.0
        (2, "completely different words nowhere near the benchmark corpus"),
        (3, "short"),  # < 3 words: no shingles, excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = contamination_overlap(df, eval_mod=5)
    out = {r["doc_id"]: r for r in res.collect()}
    assert set(out) == {1, 2}  # eval doc and shingle-less doc excluded
    assert out[1]["contamination_frac"] == 1.0
    assert out[2]["contamination_frac"] < 0.5
    # the eval membership probe must be a broadcast join, never shuffled
    assert "BroadcastHashJoin" in _plan(res)
    res._mtp_cached.unpersist()


# ---------------------------------------------------------- repetition

def test_repetition_metrics_flags_templated_text(spark):
    df = spark.createDataFrame(
        [
            (1, "buy now " * 50),                      # maximal repetition
            (2, "each word here is quite different truly"),
            (3, ""),                                    # empty -> zeros
        ],
        "doc_id long, text string",
    )
    res = repetition_metrics(df)
    out = {r["doc_id"]: r for r in res.collect()}
    assert out[1]["dup_word_frac"] > 0.9 and out[1]["top_2gram_frac"] > 0.4
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["top_2gram_frac"] < 0.2
    assert out[3]["dup_word_frac"] == 0.0 and out[3]["top_2gram_frac"] == 0.0
    res._mtp_cached.unpersist()


# ------------------------------------------------- token near-dup

def test_token_shingles_and_near_dup(spark):
    from multi_table_plugins_spark.functions.tokens import (
        token_near_dup_pairs,
        token_shingles,
    )

    df = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40, 50]),       # 3 shingles
            (2, [10, 20, 30, 40]),           # prefix of 1 -> J = 2/3
            (3, [10, 20]),                   # shorter than k -> no shingles
            (4, [99, 98, 97, 96]),           # disjoint
        ],
        "doc_id long, tokens array<int>",
    )
    sh = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", token_shingles("tokens", 3).alias("s")).collect()}
    assert sh[1] == ["10|20|30", "20|30|40", "30|40|50"]
    assert sh[3] == []
    pairs = token_near_dup_pairs(df, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    pairs._mtp_cached.unpersist()
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - 2 / 3) < 1e-9


def test_jaccard_distinct_equals_general_kernel(spark):
    """jaccard_distinct must agree with the general kernel on distinct
    inputs — including empty/identical/disjoint edge sets."""
    from multi_table_plugins_spark.operators.dedup import (
        jaccard,
        jaccard_distinct,
    )

    rows = [
        (1, ["a", "b", "c"], ["b", "c", "d"]),
        (2, [], []),
        (3, ["x"], []),
        (4, ["p", "q"], ["p", "q"]),
        (5, ["m"], ["n"]),
    ]
    df = spark.createDataFrame(rows, "i long, a array<string>, b array<string>")
    out = df.select(
        jaccard("a", "b").alias("g"), jaccard_distinct("a", "b").alias("d")
    ).collect()
    for r in out:
        assert abs(r["g"] - r["d"]) < 1e-12


# --------------------------------------------------- sessionization

def test_sessionize_gap_semantics_and_plan(spark):
    from multi_table_plugins_spark.operators.sessions import (
        session_stats,
        sessionize,
    )

    rows = [
        # user 1: events at t=0s, 10s, 2000s (gap>30min at 2000? no - gap
        # is 1800s: 2000-10=1990 > 1800 -> new session), 2005s
        (1, 1, "2024-01-01 00:00:00.000001"),
        (2, 1, "2024-01-01 00:00:10"),
        (3, 1, "2024-01-01 00:33:20"),
        (4, 1, "2024-01-01 00:33:25"),
        # user 2: single event
        (5, 2, "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = sessionize(df, "user_id", "ts", 1800, tiebreak=("event_id",))
    got = {r["event_id"]: r["session_num"] for r in s.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}
    # sub-second boundary: exactly gap == no break, gap+1us == break
    rows2 = [
        (1, 9, "2024-01-01 00:00:00.000000"),
        (2, 9, "2024-01-01 00:30:00.000000"),   # == 1800s: same session
        (3, 9, "2024-01-01 01:00:00.000001"),   # 1800.000001s: break
    ]
    df2 = spark.createDataFrame(
        rows2, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got2 = {
        r["event_id"]: r["session_num"]
        for r in sessionize(df2, "user_id", "ts", 1800, ("event_id",)).collect()
    }
    assert got2 == {1: 1, 2: 1, 3: 2}

    stats = session_stats(df, "user_id", "ts", 1800, ("event_id",))
    by = {(r["user_id"], r["session_num"]): r for r in stats.collect()}
    assert by[(1, 1)]["n_events"] == 2 and by[(1, 2)]["n_events"] == 2
    assert abs(by[(1, 1)]["duration_secs"] - 9.999999) < 1e-6
    # plan: the only exchanges are keyed on the user (window + agg reuse
    # the same partitioning) — no single-partition collapse
    p = stats._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p


# ---------------------------------------------------- dataset split

def test_dataset_split_is_leakage_safe_and_balanced(spark):
    from multi_table_plugins_spark.functions.textfns import doc_fingerprint
    from multi_table_plugins_spark.operators.curation import dataset_split

    # 3000 distinct texts + exact duplicates of the first 300
    base = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body number "), F.col("id").cast("string")).alias("text"),
    )
    dups = spark.range(10_000, 10_300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("text body number "), (F.col("id") - 10_000).cast("string")
        ).alias("text"),
    )
    df = base.unionByName(dups)
    out = df.select(
        "doc_id",
        doc_fingerprint("text").alias("fp"),
        dataset_split(doc_fingerprint("text"), {"train": 0.8, "val": 0.1, "test": 0.1}),
    )
    rows = out.collect()
    # leakage safety: every fingerprint maps to exactly one split
    by_fp = {}
    for r in rows:
        by_fp.setdefault(r["fp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_fp.values())
    # balance on the distinct-content population
    from collections import Counter

    c = Counter(next(iter(s)) for s in by_fp.values())
    n = sum(c.values())
    assert abs(c["train"] / n - 0.8) < 0.03
    assert abs(c["val"] / n - 0.1) < 0.02
    assert abs(c["test"] / n - 0.1) < 0.02

    import pytest

    with pytest.raises(ValueError, match="sum to 1"):
        dataset_split("doc_id", {"train": 0.5, "test": 0.1})
