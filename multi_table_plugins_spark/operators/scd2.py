"""Slowly-changing-dimension type-2 materialization from a change
stream: turn per-key change events into validity intervals
``[valid_from, valid_to)`` with an ``is_current`` flag — the standard
warehouse shape for "what did this row look like at time T?".

The reference plugin lands raw change rows (multi-table source → sink);
SCD2 is the canonical downstream consumer of exactly that feed, so it
belongs in this engine even though the reference has no counterpart.
Complements the LWW final-state path (``lakehouse/table.py``): LWW
keeps the latest version per key, SCD2 keeps them all with temporal
navigation.

Scale: one shuffle keyed on the business key, then a sorted window per
key — the minimal possible plan (any SCD2 needs per-key event order).
No global sort, no driver data movement; skewed keys are bounded by
per-key history length, not corpus size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    payload: Sequence[str],
) -> DataFrame:
    """Expand change events into SCD2 validity intervals.

    ``order_by`` must totally order events within a key (e.g.
    ``("ts", "event_id")`` — include a unique tiebreaker; ties in the
    version column alone would make intervals nondeterministic). The
    first ``order_by`` column is the temporal axis: ``valid_from`` is
    its value, ``valid_to`` is the next event's value (NULL for the
    open current version), ``version_num`` is the 1-based per-key
    version ordinal, ``is_current`` marks the open interval.
    """
    keys, order_by, payload = list(keys), list(order_by), list(payload)
    if not keys or not order_by:
        raise ValueError("scd2_history needs at least one key and order column")
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    ts = order_by[0]
    return df.select(
        *keys,
        *payload,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version_num"),
        F.lead(ts).over(w).isNull().alias("is_current"),
    )
