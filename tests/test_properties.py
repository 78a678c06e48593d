"""Property-based tests (hypothesis): invariants that example tests
can't sweep — schema-lattice algebra, splitter coverage/monotonicity,
text-fraction order compatibility, salted-LWW equivalence on random
change sequences."""

import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

from multi_table_plugins_spark.schemas import SchemaEvolutionError, merge_types
from multi_table_plugins_spark.sources.multi_table import assign_range_splits

SCALARS = [
    BooleanType(),
    ByteType(),
    ShortType(),
    IntegerType(),
    LongType(),
    FloatType(),
    DoubleType(),
    StringType(),
    DateType(),
    TimestampType(),
    DecimalType(10, 2),
    DecimalType(20, 2),
    ArrayType(IntegerType()),
    ArrayType(LongType()),
]


@given(st.sampled_from(SCALARS), st.sampled_from(SCALARS))
@settings(max_examples=200)
def test_merge_types_symmetric_and_idempotent(a, b):
    """The widening lattice is a commutative join: merge(a,b) == merge(b,a)
    (or both reject), and merge(a,a) == a."""
    assert merge_types(a, a) == a
    try:
        ab = merge_types(a, b)
    except SchemaEvolutionError:
        with pytest.raises(SchemaEvolutionError):
            merge_types(b, a)
        return
    assert merge_types(b, a) == ab
    # the result is an upper bound: merging either input into it is a no-op
    assert merge_types(ab, a) == ab
    assert merge_types(ab, b) == ab


@given(
    st.lists(st.integers(min_value=-(2 ** 40), max_value=2 ** 40), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_int_splitter_covers_and_is_monotone(spark, vals, n_splits):
    """Every row gets a split in [0, n); split id is non-decreasing in PK
    order (ranges are contiguous); every requested range is equal-width."""
    df = spark.createDataFrame([(v,) for v in vals], "pk long")
    rows = assign_range_splits(df, "pk", n_splits).collect()
    assert len(rows) == len(vals)
    by_pk = sorted((r["pk"], r["split_id"]) for r in rows)
    sids = [s for _, s in by_pk]
    assert all(0 <= s < n_splits for s in sids)
    assert sids == sorted(sids)  # monotone in pk


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=12,
        ),
        min_size=2,
        max_size=80,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_text_fraction_is_lex_order_compatible(spark, strings):
    """The base-256 interpolation behind the text splitter must agree
    with lexicographic order on the first 8 chars (printable ASCII):
    s <= t on the truncated prefix implies frac(s) <= frac(t)."""
    from multi_table_plugins_spark.sources.multi_table import text_fraction_expr

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["f"]
        for r in df.select("s", text_fraction_expr("s").alias("f")).collect()
    }
    ordered = sorted(set(x[:8] for x in strings))
    fracs = [got[next(s for s in strings if s[:8] == p)] for p in ordered]
    assert fracs == sorted(fracs)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.sampled_from(["a", "b", "c"]),  # payload
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_lww_equals_window_dedup(spark, events):
    """For any change sequence (unique LSNs), the skew-proof two-stage
    rewrite returns exactly the ranking-window answer."""
    from multi_table_plugins_spark.operators.skew import salted_lww_dedup

    rows = [(i, k, p) for i, (k, p) in enumerate(events)]
    df = spark.createDataFrame(rows, "lsn long, key long, payload string")
    got = {
        (r["key"], r["payload"], r["lsn"])
        for r in salted_lww_dedup(
            df, key="key", lsn_col="lsn", payload_cols=["payload"], salt_buckets=3
        ).collect()
    }
    w = Window.partitionBy("key").orderBy(F.desc("lsn"))
    exp = {
        (r["key"], r["payload"], r["lsn"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    }
    assert got == exp


@given(
    st.lists(
        st.tuples(st.integers(0, 100_000), st.integers(0, 80)),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 500),
    st.integers(1, 9),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_sequence_pack_equals_naive_prefix_sum(spark, rows, budget, num_splits):
    """For any id/token-count multiset, any budget, and any split count,
    the distributed two-stage prefix sum equals the naive global ordered
    cumsum (zero-token docs and duplicate token counts included)."""
    from multi_table_plugins_spark.operators.curation import sequence_pack

    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"], r["offset_in_seq"])
        for r in sequence_pack(
            df, "doc_id", "n_tokens", budget=budget, num_splits=num_splits
        ).collect()
    }
    acc = 0
    for doc_id, n in sorted(rows):
        assert got[doc_id] == (acc, acc // budget, acc % budget)
        acc += n


@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000),
            st.integers(1, 30),
            st.integers(0, 9),
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_scd2_reconstructs_lww_at_every_instant(spark, events):
    """SCD2 + as-of at any probe instant must agree with a direct LWW
    over the events at or before that instant — the temporal-navigation
    contract, for arbitrary (eid, ts, key) event sets."""
    from multi_table_plugins_spark.operators.scd2 import scd2_history

    rows = [(eid, ts, k, f"v{eid}") for eid, ts, k in events]
    df = spark.createDataFrame(rows, "eid long, ts long, k long, v string")
    hist = scd2_history(df, ["k"], ["ts", "eid"], ["v"])
    distinct_ts = sorted({ts for _, ts, _ in events})
    probe_ts = distinct_ts[len(distinct_ts) // 2]
    t = F.lit(probe_ts)
    live = (F.col("valid_from") <= t) & (
        F.col("valid_to").isNull() | (F.col("valid_to") > t)
    )
    got = {r["k"]: r["v"] for r in hist.where(live).collect()}
    want = {}
    for eid, ts, k in sorted(events, key=lambda e: (e[1], e[0])):
        if ts <= probe_ts:
            want[k] = f"v{eid}"
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5_000),          # eid (unique)
            st.integers(0, 100_000),        # ts seconds
            st.integers(0, 4),              # user
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 3600),
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_sessionize_partitions_events_by_gap(spark, events, gap):
    """For any event set and gap: sessions partition each user's events
    contiguously in time order, intra-session gaps are <= gap, and
    consecutive sessions are separated by > gap."""
    from multi_table_plugins_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(eid, u, ts) for eid, ts, u in events], "eid long, ts long, user long"
    ).select(
        "eid", "user", F.timestamp_seconds(F.col("ts")).alias("ts")
    )
    got = sessionize(df, "user", "ts", gap, tiebreak=("eid",)).collect()
    per_user = {}
    for r in got:
        per_user.setdefault(r["user"], []).append(r)
    for u, rs in per_user.items():
        rs.sort(key=lambda r: (r["ts"], r["eid"]))
        nums = [r["session_num"] for r in rs]
        assert nums[0] == 1
        for a, b in zip(rs, rs[1:]):
            delta = (b["ts"] - a["ts"]).total_seconds()
            if delta > gap:
                assert b["session_num"] == a["session_num"] + 1
            else:
                assert b["session_num"] == a["session_num"]


# --- round-4 invariants: file skipping + change data feed --------------


def _mk_lake(spark, changes_epochs, tmpdir):
    """Build a LakeTable from a list of epochs, each a list of
    (lsn, op, key) changes."""
    from pyspark.sql.types import StructField, StructType

    from multi_table_plugins_spark.lakehouse import LakeTable

    sch = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("v", LongType(), True),
        ]
    )
    ch = StructType(
        [
            StructField("lsn", LongType(), False),
            StructField("op", StringType(), False),
            StructField("doc_id", LongType(), False),
            StructField("v", LongType(), True),
        ]
    )
    t = LakeTable.create(spark, tmpdir, sch, key="doc_id", n_buckets=2)
    for i, epoch in enumerate(changes_epochs):
        if not epoch:
            continue
        rows = [
            (lsn, op, k, None if op == "D" else lsn * 10)
            for lsn, op, k in epoch
        ]
        t.merge_into(
            spark.createDataFrame(rows, ch), app_id="prop", epoch=i
        )
    return t


_changes = st.lists(
    st.tuples(st.sampled_from("IUD"), st.integers(0, 12)),
    min_size=1,
    max_size=30,
)


@given(_changes, st.integers(0, 12), st.sampled_from(["=", "<", "<=", ">", ">="]))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_file_skipping_equals_plain_filter_on_any_history(
    spark, ops_keys, bound, op
):
    """For ANY change history and ANY key predicate, the stats-pruned
    read(where=...) equals the unpruned read().filter(...) — pruning is
    an IO reduction, never a semantics change."""
    import shutil
    import tempfile

    changes = [(i + 1, o, k) for i, (o, k) in enumerate(ops_keys)]
    cut = max(1, len(changes) // 2)
    work = tempfile.mkdtemp(prefix="prop_skip_")
    try:
        t = _mk_lake(spark, [changes[:cut], changes[cut:]], work)
        sql_op = {"=": "==", "<": "<", "<=": "<=", ">": ">", ">=": ">="}[op]
        want = {
            (r["doc_id"], r["v"])
            for r in t.read().filter(f"doc_id {sql_op} {bound}").collect()
        }
        got_df = t.read(where=[("doc_id", op, bound)])
        got = {(r["doc_id"], r["v"]) for r in got_df.collect()}
        assert got == want
        info = t.last_scan_info
        assert 0 <= info["files_read"] <= info["files_total"]
    finally:
        shutil.rmtree(work, ignore_errors=True)


@given(_changes)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_table_changes_equals_snapshot_diff_on_any_history(spark, ops_keys):
    """For ANY change history split into two epochs, table_changes(v0)
    equals the brute-force diff of the two materialized snapshots."""
    import shutil
    import tempfile

    changes = [(i + 1, o, k) for i, (o, k) in enumerate(ops_keys)]
    cut = max(1, len(changes) // 2)
    work = tempfile.mkdtemp(prefix="prop_cdf_")
    try:
        t = _mk_lake(spark, [changes[:cut]], work)
        v0 = t.manifest()["version"]
        if changes[cut:]:
            t.merge_into(
                spark.createDataFrame(
                    [
                        (lsn, op, k, None if op == "D" else lsn * 10)
                        for lsn, op, k in changes[cut:]
                    ],
                    "lsn long, op string, doc_id long, v long",
                ),
                app_id="prop",
                epoch=1,
            )

        def state(version):
            return {
                r["doc_id"]: (r["v"], r["_lsn"])
                for r in t.read(version=version, with_lsn=True).collect()
            }

        s0, s1 = state(v0), state(None)
        expected = {}
        for k in s1:
            if k not in s0:
                expected[k] = ("insert", s1[k][0], s1[k][1])
            elif s1[k][1] != s0[k][1]:
                expected[k] = ("update", s1[k][0], s1[k][1])
        for k in s0:
            if k not in s1:
                expected[k] = ("delete", s0[k][0], None)
        got = {}
        for r in t.table_changes(v0).collect():
            lsn = None if r["change_type"] == "delete" else r["change_lsn"]
            got[r["doc_id"]] = (r["change_type"], r["v"], lsn)
        assert got == expected
    finally:
        shutil.rmtree(work, ignore_errors=True)
