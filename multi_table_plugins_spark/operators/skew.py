"""Skew handling: salted two-stage LWW dedup for hot keys.

The reference has no skew story (one split per table — a hot table
serializes, SURVEY.md §4 gap). The north rule requires explicit handling:
a hot ``doc_id`` receiving a large share of a micro-batch would pin one
shuffle partition. Strategy:

  * **salted pre-aggregation**: LWW dedup is an associative reduce
    (argmax by lsn), so it can run in two stages — stage 1 groups on
    ``(key, salt)`` spreading a hot key over S reducers, stage 2 groups
    the S partials on ``key``. Stage-2 input is ≤ S rows per key no
    matter how hot the key was.
  * AQE skew-join splitting is enabled at the session level for the join
    paths (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SALT = "_salt"


def salted_lww_dedup(
    df: DataFrame,
    key: str,
    lsn_col: str,
    payload_cols: list[str],
    salt_buckets: int = 8,
) -> DataFrame:
    """Two-stage argmax-by-lsn dedup that survives arbitrarily hot keys.

    Equivalent result to ``groupBy(key).agg(max_by(payload, lsn))``
    (requires LSNs unique per key, which CDC log sequence numbers are),
    built from KEYS-ONLY aggregations + a winner join-back:

      1. ``groupBy(key, salt).agg(max(lsn))`` — a hot key spreads over
         ``salt_buckets`` reducers; fixed-width agg buffer → map-side
         partial HashAggregate, never the SortAggregate fallback that
         ``max_by(struct(<array payload>), lsn)`` forces (variable-length
         buffers don't fit hash aggregation — measured 4x slower).
      2. ``groupBy(key).agg(max(lsn))`` over ≤ salt_buckets rows/key.
      3. join winners back on (key, lsn) to fetch the payload — the
         winner side is ≤ #distinct-keys rows, so AQE broadcasts it when
         it fits; the payload arrays cross exactly one shuffle, inside
         the probe side.

    When to use: this is the SKEW-PROOF shape, and on unskewed data it
    costs ~3-4x a plain ranking window (two aggregations + join-back vs
    one window; measured in BENCH). Gate on observed skew — e.g. when
    max(per-key count) / avg exceeds ~10, or a prior batch's straggler
    task dominates the stage — and use a plain window/``max_by``
    otherwise. The oracle query runs this path unconditionally only to
    prove exact window-dedup equivalence.
    """
    from pyspark.sql import Window

    salted = df.withColumn(_SALT, F.pmod(F.col(lsn_col), salt_buckets))
    partial = salted.groupBy(key, _SALT).agg(F.max(lsn_col).alias(lsn_col))
    winners = partial.groupBy(key).agg(F.max(lsn_col).alias(lsn_col))
    out = df.join(winners, [key, lsn_col], "inner")
    # at-least-once feeds can redeliver the same (key, lsn) event within
    # a batch — collapse exact redeliveries AFTER the join, where the
    # window sort touches only the winner set (<= dup-factor rows per
    # key), never the batch. dropDuplicates on the input would aggregate
    # the payload columns and reintroduce the sort-agg fallback for
    # array payloads.
    w = Window.partitionBy(key).orderBy(F.desc(lsn_col))
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return out.select(key, *payload_cols, lsn_col)
