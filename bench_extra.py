#!/usr/bin/env python
"""Extra benchmarks for the optimization round (bench.py is frozen).

Modes:
  --plans DIR --tag before|after   write explain("formatted") per headline
                                   query to DIR/<query>_<tag>.txt
  --profile [--reps N]             per-query timing split: build (Python
                                   fn call, includes eager driver work),
                                   count (the action) — the driver's
                                   bench measures build+count single-shot
  --noop                           time each query with the noop sink
                                   (guide §1.4) instead of count()
  --queries a,b,c                  restrict to a subset

Methodology mirrors bench.py run_queries(): same session conf, same
warmup pair, same single-shot order.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multi_table_plugins_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))

HEADLINE = (
    "pricing_summary",
    "sql_statement_join",
    "lww_latest_by_key",
    "cdc_final_state",
    "hourly_rollup",
    "dedup_exact",
    "dedup_exact_clusters",
    "text_metrics",
    "corpus_stats",
    "top_tokens",
    "simhash_signatures",
    "ann_cosine_topk",
    "minhash_near_dup",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "embedding_near_dup",
    "scd2_history",
    "sequence_pack",
    "stratified_sample",
    "contamination_overlap",
    "repetition_quality",
    "pii_scrub",
    "sessionization",
    "token_near_dup",
)


def _session():
    return get_spark(
        "mtp-bench-extra",
        cores=CPUS,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)},
    )


def _warmup(spark, qs):
    qs["pricing_summary"](spark, SF_DIR).count()
    qs["ann_cosine_topk"](spark, SF_DIR).count()


def run_plans(out_dir: str, tag: str, names) -> None:
    import __spark_entry__ as entrymod

    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt", file=sys.stderr)
    spark.stop()


def run_profile(names, noop: bool = False, reps: int = 1) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    qs = entrymod.queries()
    _warmup(spark, qs)
    out = {}
    for rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t1 = time.time()
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t2 = time.time()
            rec = out.setdefault(name, {"build": [], "run": [], "total": []})
            rec["build"].append(round(t1 - t0, 3))
            rec["run"].append(round(t2 - t1, 3))
            rec["total"].append(round(t2 - t0, 3))
            spark.sparkContext.setJobDescription(None)
    spark.stop()
    total = sum(min(v["total"]) for v in out.values())
    print(json.dumps({"queries": out, "sum_min_total": round(total, 2)}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--queries", default=None)
    a = ap.parse_args()
    names = a.queries.split(",") if a.queries else list(HEADLINE)
    if a.plans:
        run_plans(a.plans, a.tag, names)
    elif a.profile or a.noop:
        run_profile(names, noop=a.noop, reps=a.reps)
    else:
        ap.print_help()


if __name__ == "__main__":
    main()
