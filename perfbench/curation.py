"""The curation-query phase of the traced ``cdc_trickle`` run: the 24
headline leaves of ``__spark_entry__.queries()`` over input tables the
benchmark builds itself, so the run reads nothing outside the checkout.

``documents`` comes from the engine's own ``LakeTable.read()`` of the
warehouse the trickle just wrote (checked against the feed's oracle
first); ``embeddings``, ``events``, ``customer``, ``orders`` and
``lineitem`` are generated from the seed with the schemas and value
ranges of the repository's sf0.001 test tables. Each leaf is built and
run once cold (warm-up), then once timed; its rows from the timed pass
are checked against ``oracle_sql()`` in DuckDB afterwards, with the
order-insensitive value hash of ``tests/test_entry_oracle.py``.
"""

from __future__ import annotations

import json
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

from . import common

#: headline leaves by the module that does their work
MODULES = {
    "operators.dedup_s": (
        "dedup_exact", "dedup_exact_clusters", "minhash_near_dup",
        "simhash_signatures", "token_near_dup",
    ),
    "operators.similarity_s": (
        "ann_cosine_topk", "lsh_ann_topk", "ivf_ann_topk", "embedding_near_dup",
    ),
    "operators.curation_s": (
        "sequence_pack", "stratified_sample", "contamination_overlap",
        "repetition_quality", "pii_scrub",
    ),
    "functions.text_s": ("text_metrics", "corpus_stats", "top_tokens"),
    "sources.relational_s": (
        "pricing_summary", "sql_statement_join", "lww_latest_by_key",
        "cdc_final_state", "hourly_rollup",
    ),
    "operators.sessions_scd2_s": ("sessionization", "scd2_history"),
}
LEAVES = tuple(leaf for leaves in MODULES.values() for leaf in leaves)
CATALYST_PHASES = ("analysis", "optimization", "planning")

_WORDS = (
    "the a data table row column key value merge join sort hash scan filter "
    "group agg order part line customer query stream batch window spark fast "
    "slow big small vector dup"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


# --- inputs -----------------------------------------------------------------
#: documents taken from each table (in doc_id order): 500 in all, the
#: size of the sf0.001 documents table; the near-dup oracles grow with
#: the square of it
DOCS_PER_TABLE = 125


def _documents(lake_rows):
    """One document per live row of the warehouse (up to
    ``DOCS_PER_TABLE`` of each table): its tokens spelled as words from a
    32-word vocabulary."""
    import pyarrow as pa

    rows = [r for tbl in lake_rows for r in tbl.slice(0, DOCS_PER_TABLE).to_pylist()]
    text = [" ".join(_WORDS[t % len(_WORDS)] for t in r["tokens"]) for r in rows]
    return pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": text,
        "lang": [_LANGS[(len(r["tokens"]) * 7 + i) % len(_LANGS)] for i, r in enumerate(rows)],
        "source": [r["source"] for r in rows],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _generated(seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    day = np.timedelta64(1, "D")

    def choice(options, n):
        return [options[i] for i in rng.integers(0, len(options), n)]

    n_vec, dim = 500, 64
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, dim))
    emb = (centers[label] + rng.normal(0.0, 0.6, (n_vec, dim))) * 0.12
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    n_ev = 1000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.exponential(2_600e6, n_ev)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": choice(("signup", "click", "error", "purchase", "view"), n_ev),
        "value": np.round(rng.uniform(0.0, 330.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    n_cust, n_ord, n_li = 150, 1500, 6000
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    d95 = np.datetime64("1995-01-01", "us")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(d95 + rng.integers(0, 2400, n_ord) * day, pa.timestamp("us")),
        "o_orderpriority": choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": choice(("A", "N", "R"), n_li),
        "l_linestatus": choice(("O", "F"), n_li),
        "l_shipdate": pa.array(d95 + rng.integers(1, 2500, n_li) * day, pa.timestamp("us")),
    })
    return {"embeddings": embeddings, "events": events, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def build_inputs(out_dir: str, seed: int, lake_rows) -> None:
    """Write ``<table>.parquet`` for every table the headline leaves read."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tables = dict(_generated(seed), documents=_documents(lake_rows))
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- oracle -------------------------------------------------------------------
def _digest(cols, rows) -> tuple:
    """(sorted column names, row count, the repository's own
    order-insensitive value hash) of one result."""
    # ``tests/`` and ``__spark_entry__`` sit at the checkout root, which
    # run.py puts on sys.path
    from tests.test_entry_oracle import _value_hash

    return sorted(cols), len(rows), _value_hash(rows, cols)


def oracle_digests(sf_dir: str, oracle_sql: dict) -> dict:
    """leaf -> digest of its DuckDB oracle over the tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    out = {}
    try:
        con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', common.WORK)}'")
        con.execute("SET threads=4")
        for p in sorted(os.listdir(sf_dir)):
            if p.endswith(".parquet"):
                con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM parquet_scan('{os.path.join(sf_dir, p)}')")
        for leaf in LEAVES:
            cur = con.execute(oracle_sql[leaf])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[leaf] = _digest(cols, rows)
    finally:
        con.close()
    return out


# --- the phase ----------------------------------------------------------------
def _catalyst_ms(df) -> dict:
    """Catalyst phase durations of the DataFrame's last execution."""
    out = dict.fromkeys(CATALYST_PHASES, 0.0)
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def run_phase(spark, tracer, res, warehouse: str, oracle: dict, seed: int, work: str) -> None:
    """Read the warehouse through the engine, build the inputs, run the
    leaves cold then timed, and check them. Counts one operation per
    table read and per leaf in ``res``; per-leaf Catalyst phases go to
    ``res.catalyst``."""
    from multi_table_plugins_spark.lakehouse.table import LakeTable

    lake_rows = []
    for t in sorted(oracle):
        res.attempted += 1
        with tracer.span("bench.lake_read", "bench"):
            df = LakeTable(spark, os.path.join(warehouse, t)).read()
            with tracer.span("table.read_exec", "table.read_exec"):
                got = common.canonical(df.toArrow())
        if not got.equals(oracle[t]):
            res.fail(1, f"engine read of {t} differs from oracle")
        lake_rows.append(got)
    sf_dir = os.path.join(work, "sf")
    build_inputs(sf_dir, seed, lake_rows)
    run_leaves(spark, tracer, res, sf_dir)


def run_leaves(spark, tracer, res, sf_dir: str) -> None:
    """Every leaf once cold (warm-up, four at a time), then once timed;
    one operation per leaf."""
    import __spark_entry__ as entry  # at the checkout root, like tests/

    queries = entry.queries()

    def warm(leaf):
        try:
            queries[leaf](spark, sf_dir).collect()
        except Exception:  # the timed pass counts the failure
            pass

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(warm, LEAVES))
    results, took = {}, []
    for leaf in LEAVES:
        res.attempted += 1
        t0 = time.time()
        try:
            with tracer.span("entry.build", "entry") as sp:
                sp.attrs["leaf"] = leaf
                df = queries[leaf](spark, sf_dir)
            with tracer.span("entry.exec", "entry") as sp:
                sp.attrs["leaf"] = leaf
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a failed leaf is counted, the run goes on
            res.fail(1, f"query {leaf} raised {type(e).__name__}: {e}"[:300])
            continue
        took.append(time.time() - t0)
        results[leaf] = (df.columns, rows)
        res.catalyst[leaf] = _catalyst_ms(df)
    if took:
        res.metric("query_suite_s", sum(took), "s")
        res.metric("query_geomean_s", math.exp(sum(map(math.log, took)) / len(took)), "s")
    want = oracle_digests(sf_dir, entry.oracle_sql())
    for leaf, (cols, rows) in results.items():
        if want[leaf] != _digest(cols, rows):
            res.fail(1, f"query {leaf} differs from its oracle")
