"""Operator package. The ``_mtp_cached`` convention: operators that must
persist an intermediate frame (materialization barriers for interpreted
HOF chains) attach the persisted handle(s) to their returned DataFrame;
callers unpersist them once the result is materialized."""

from __future__ import annotations


def fan_out(df):
    """Small corpora arriving as one file = one scan partition would run
    interpreted HOF chains (shingles, hashes) on ONE core — measured
    7.5 s single-core for 5k docs. Fan out to the cluster's parallelism
    first; at scale the input already has ≥ that many partitions and
    this is a no-op. Callers must keep filters on HOF-derived columns
    ABOVE any persist that follows: Catalyst pushes such predicates
    beneath the repartition Exchange, re-evaluating the chain on the
    unparallelized scan."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        parts = df.rdd.getNumPartitions()  # one extra planning pass —
        # acceptable for these corpus-level operators; Spark Connect has
        # no df.rdd, so fall through to no-op there (Connect inputs are
        # remote tables with real partitioning anyway)
    except Exception:
        return df
    if parts < target:
        return df.repartition(target)
    return df
