"""Incremental aggregate-view maintenance (IVM) over the change feed.

``refresh_rollup`` keeps a materialized GROUP BY view — per-group
``sum_<col>`` columns plus ``row_count`` — exactly in sync with a
source :class:`LakeTable`, paying only O(changes) per refresh:

  1. pull the net change feed since the last refreshed source version
     (``table_changes(v_from, v_to, include_old=True)`` — the old-value
     columns are what make maintenance differential: an update
     contributes ``+new`` to its new group and ``-old`` to its old
     group, so group-moving updates and deletes are exact);
  2. fold the signed contributions into one per-group delta
     (one hash aggregate over the changes, never over the table);
  3. read the CURRENT view rows of only the buckets the touched groups
     hash into (``_current_rows_for`` — the same bounded
     read-modify-write as patch merge), apply the deltas, and MERGE the
     absolute results back (groups whose live ``row_count`` reaches 0
     are deleted).

Exactly-once: the view table's ledger is keyed on the SOURCE version
(``epoch=v_to``), so a replayed refresh — crash, duplicate scheduler
fire — is a no-op, and a crash between delta computation and commit
recomputes the identical batch from the same immutable change range.

Scale shape at 100 TB: refresh cost is O(net changes in range) +
O(touched view buckets); the view itself is a LakeTable, so readers
get LWW, time travel, CDF, and file skipping on the rollup for free.
Only additive aggregates (sum/count, and avg = sum/count downstream)
can be maintained differentially; MIN/MAX need recomputation of
affected groups and are rejected. Floating-point sums accumulate
differentially and may drift from a fresh recompute by float
round-off (the standard IVM caveat) — use integral units where exact
equality matters.

The reference has no materialized-view maintenance at all; this is the
CDC-*consumer* counterpart of its ingest pipeline (parity note: its
users run full nightly GROUP BY recomputes instead,
MultiTableDBSource.java:61-66 feeding plain batch SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
)

from ..schemas import DELETED_COL
from .fileio import FileIO
from .table import LakeTable

ROW_COUNT_COL = "row_count"

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _sum_type(dt):
    """Result type of a maintained SUM over a column of type ``dt``:
    integral → long (exact), float/double/decimal → double. Rejects
    non-numeric columns."""
    if isinstance(dt, _INTEGRAL):
        return LongType()
    if isinstance(dt, (FloatType, DoubleType, DecimalType)):
        return DoubleType()
    raise ValueError(f"cannot maintain a sum over non-numeric type {dt}")


def rollup_schema(
    src_schema: StructType, group_cols: "list[str]", sum_cols: "list[str]"
) -> StructType:
    """The view table's user schema: group columns (source types) +
    ``sum_<col>`` per summed column + ``row_count``."""
    out = StructType()
    for g in group_cols:
        f = src_schema[g]
        out = out.add(f.name, f.dataType, True)
    for c in sum_cols:
        out = out.add(f"sum_{c}", _sum_type(src_schema[c].dataType), True)
    out = out.add(ROW_COUNT_COL, LongType(), True)
    return out


def refresh_rollup(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    group_cols: "list[str]",
    sum_cols: "list[str]",
    io: FileIO | None = None,
    n_buckets: int = 32,
    app_id: str = "rollup",
) -> dict:
    """Create (first call) or incrementally refresh the rollup view of
    ``src_path`` at ``view_path``. Returns refresh metrics. The view is
    maintained by a single refresher per ``view_path`` (the
    materialized-view model); refreshes themselves are idempotent and
    crash-safe via the source-version ledger."""
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    src = LakeTable(spark, src_path, io=io)
    src_schema = src.schema()
    for c in list(group_cols) + list(sum_cols):
        if c not in src_schema.fieldNames():
            raise ValueError(
                f"column {c!r} not in source schema "
                f"{src_schema.fieldNames()}"
            )
    overlap = set(group_cols) & set(sum_cols)
    if overlap:
        raise ValueError(f"columns {sorted(overlap)} both grouped and summed")
    v_to = src.manifest()["version"]
    view = LakeTable.get_or_create(
        spark,
        view_path,
        rollup_schema(src_schema, group_cols, sum_cols),
        key=list(group_cols),
        n_buckets=n_buckets,
        io=io,
    )
    sum_types = {c: _sum_type(src_schema[c].dataType) for c in sum_cols}
    src_keys = set(src.key_cols)

    def _old_col(c: str):
        # the change feed emits old_<col> for PAYLOAD columns only; a
        # KEY column is immutable per key, so its old value IS the new
        # value (grouping or summing by the source key is legal)
        return F.col(c) if c in src_keys else F.col(f"old_{c}")

    def _signed(ch: DataFrame, side: str, sign: int, live) -> DataFrame:
        new_side = side == "new"
        cols = [
            (F.col(g) if new_side else _old_col(g)).alias(g)
            for g in group_cols
        ]
        for c in sum_cols:
            cols.append(
                (
                    F.coalesce(
                        (F.col(c) if new_side else _old_col(c)).cast(
                            sum_types[c]
                        ),
                        F.lit(0).cast(sum_types[c]),
                    )
                    * sign
                ).alias(f"d_sum_{c}")
            )
        cols.append(F.lit(sign).cast("long").alias("d_cnt"))
        return ch.filter(live).select(*cols)

    from pyspark.sql import Observation

    # The refresh is read-modify-write over the VIEW (deltas apply on
    # top of its current rows), so the merge pins the exact view
    # version that state was read at: a concurrent refresher landing in
    # between conflicts and the recompute loop re-runs the WHOLE refresh
    # against the new state — two racing refreshers (duplicate scheduler
    # fires, a loop plus a one-shot) can therefore never double-apply a
    # change range.
    def attempt() -> dict:
        v_from = view.last_committed_epoch(app_id) or 0
        if v_from >= v_to:
            return {
                "refreshed": False,
                "v_from": v_from,
                "v_to": v_to,
                "groups_changed": 0,
            }
        view_v = view.manifest()["version"]  # pin BEFORE reading state

        ch = src.table_changes(v_from, v_to, include_old=True)
        contrib = _signed(
            ch, "new", 1, F.col("change_type") != "delete"
        ).unionByName(_signed(ch, "old", -1, F.col("old_lsn").isNotNull()))
        # persist: the delta aggregate (one small row per touched
        # group) is consumed three times — bucket discovery, the
        # current-state join, and the merge's write job; without the
        # barrier each would re-read the change range's delta files
        # and re-run the old-state join
        deltas = contrib.groupBy(*group_cols).agg(
            *[F.sum(f"d_sum_{c}").alias(f"d_sum_{c}") for c in sum_cols],
            F.sum("d_cnt").alias("d_cnt"),
        ).persist()
        try:
            # bounded read-modify-write: current view rows of ONLY the
            # buckets the touched groups hash into (tombstoned groups
            # count as absent)
            target = view._internal_schema(view.schema())
            cur = view._current_rows_for(deltas, target)
            if cur is not None:
                live_cur = F.coalesce(F.col(DELETED_COL), F.lit(False)) == False  # noqa: E712
                cur = cur.select(
                    *[F.col(g).alias(f"_cur_{g}") for g in group_cols],
                    *[
                        F.when(live_cur, F.col(f"sum_{c}")).alias(f"c_sum_{c}")
                        for c in sum_cols
                    ],
                    F.when(live_cur, F.col(ROW_COUNT_COL)).alias("c_cnt"),
                )
                # null-SAFE equality: SQL GROUP BY collects NULL group
                # values into one group, so the join back must match them
                # too — a plain equality join would never match the stored
                # NULL-group row and silently reset its aggregates
                cond = None
                for g in group_cols:
                    c = deltas[g].eqNullSafe(cur[f"_cur_{g}"])
                    cond = c if cond is None else cond & c
                j = deltas.join(cur, cond, "left").drop(
                    *[f"_cur_{g}" for g in group_cols]
                )
            else:
                j = deltas
                for c in sum_cols:
                    j = j.withColumn(
                        f"c_sum_{c}", F.lit(None).cast(sum_types[c])
                    )
                j = j.withColumn("c_cnt", F.lit(None).cast("long"))

            new_cnt = F.coalesce(F.col("c_cnt"), F.lit(0)) + F.col("d_cnt")
            out_cols = [F.col(g) for g in group_cols]
            for c in sum_cols:
                out_cols.append(
                    (
                        F.coalesce(
                            F.col(f"c_sum_{c}"), F.lit(0).cast(sum_types[c])
                        )
                        + F.col(f"d_sum_{c}")
                    ).alias(f"sum_{c}")
                )
            out_cols.append(new_cnt.alias(ROW_COUNT_COL))
            out_cols.append(
                F.when(new_cnt <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op")
            )
            # one refresh writes each group at most once, so a constant
            # per-refresh lsn (the source version) is strictly monotone
            # across refreshes — exactly what LWW needs
            out_cols.append(F.lit(int(v_to)).cast("long").alias("lsn"))
            batch = j.select(*out_cols)

            obs = Observation()
            batch = batch.observe(obs, F.count(F.lit(1)).alias("groups"))
            res = view.merge_into(
                batch,
                app_id=app_id,
                epoch=v_to,
                require_parent_version=view_v,
            )
            if res.get("skipped"):
                # a concurrent refresher beat us to this source version; no
                # action ran on the observed batch, so obs.get would block
                # forever — return the no-op without touching it
                return {
                    "refreshed": False,
                    "v_from": v_from,
                    "v_to": v_to,
                    "groups_changed": 0,
                    "snapshot_id": res.get("snapshot_id"),
                }
            return {
                "refreshed": True,
                "v_from": v_from,
                "v_to": v_to,
                "groups_changed": int(obs.get.get("groups", 0) or 0),
                "snapshot_id": res.get("snapshot_id"),
            }
        finally:
            deltas.unpersist()

    return view.recompute_on_conflict(attempt)
