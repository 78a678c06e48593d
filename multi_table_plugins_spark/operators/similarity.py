"""Approximate-nearest-neighbor search over an embedding column.

  * :func:`cosine_topk` — brute-force baseline: broadcast the (small)
    query set against the candidate corpus, cosine via higher-order
    functions, per-query top-k with a ranking window. The broadcast makes
    this a map-side-only pass over the corpus — it scales linearly in
    corpus size with zero shuffle of the big side, which is exactly the
    plan you want at 100 TB when the query set fits in memory.
  * :func:`hyperplane_lsh_topk` — scale path: random-hyperplane (sign)
    LSH buckets candidates; queries probe their own bucket (+ optional
    multi-probe by flipping bits); rerank within bucket. Shuffle is
    keyed on bucket, never all-pairs.
  * :func:`embedding_near_dup_pairs` — near-duplicate detection by
    cosine ≥ threshold within LSH buckets.

Hyperplanes are seeded numpy — deterministic — and enter the plan as
array literals (plan-time constants, codegen'd)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectors import dot, l2_norm


def _paired_cosine() -> "F.Column":
    """Cosine over pre-projected pair sides: ``dot(_qv,_cv)/(_qn*_cn)``.

    The norms (and the float→double array casts) are hoisted into the
    per-ROW projections below each join (``_prenormed``) instead of
    being folded per PAIR as ``dot(a, b) / (l2_norm(a) * l2_norm(b))``
    — a candidate join evaluates the sim expression once per generated
    pair, so the hoist removes two O(dim) aggregate folds and two array
    casts from every pair. Bit-identical to that per-pair form: the same
    sqrt-of-fold values enter the same divide/multiply tree, only
    computed earlier."""
    return dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))


def _prenormed(df: DataFrame, id_col: str, vec_col: str, side: str) -> DataFrame:
    """(id, _qv/_cv as array<double>, _qn/_cn) — the per-row pair-side
    projection feeding :func:`_paired_cosine`."""
    v, n = (f"_{side}v", f"_{side}n")
    return df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(v),
        l2_norm(vec_col).alias(n),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """(query_id, candidate_id, sim, rank≤k) — brute-force cosine top-k."""
    q = _prenormed(queries, q_id, q_vec, "q").withColumnRenamed(
        q_id, "query_id"
    )
    c = _prenormed(candidates, c_id, c_vec, "c").withColumnRenamed(
        c_id, "candidate_id"
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("candidate_id"))
    scored = joined.select(
        "query_id",
        "candidate_id",
        _paired_cosine().alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket id: bit j set iff vec·plane_j > 0."""
    bits = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p])) > 0,
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        for j, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _axis_bucket_expr(vec_col: str, n_planes: int):
    """Axis-aligned sign buckets: bit j set iff vec[j] > 0 — the one-hot
    special case of hyperplane LSH. No dot products (element lookups
    only) and, unlike seeded random planes, reproducible in ANSI SQL."""
    bits = [
        F.when(
            F.element_at(F.col(vec_col), j + 1).cast("double") > 0,
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hyperplane_lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    planes: str = "random",
) -> DataFrame:
    """Bucketed ANN: compare only within the query's LSH bucket(s).

    ``multiprobe`` additionally probes every Hamming-1 neighbor bucket
    (flip one hyperplane sign) — the standard recall/cost dial: probes
    n_planes+1 of 2^n_planes buckets instead of 1. Verified against
    :func:`cosine_topk` recall in tests.

    ``planes="axis"`` buckets on the sign of the first ``n_planes``
    vector elements instead of seeded random hyperplanes — cheaper (no
    dot products) and ANSI-SQL-reproducible (DuckDB oracle parity)."""
    if planes == "axis":
        bucket_of = lambda col: _axis_bucket_expr(col, n_planes)  # noqa: E731
    else:
        plane_vecs = _hyperplanes(dim, n_planes, seed)
        bucket_of = lambda col: _bucket_expr(col, plane_vecs)  # noqa: E731
    qbase = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_vec).cast("array<double>").alias("_qv"),
        l2_norm(q_vec).alias("_qn"),
        bucket_of(q_vec).alias("_b0"),
    )
    if multiprobe:
        probes = F.array(
            F.col("_b0"),
            *[F.col("_b0").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
    else:
        probes = F.array(F.col("_b0"))
    qb = qbase.select(
        "query_id", "_qv", "_qn", F.explode(probes).alias("_bucket")
    )
    cb = candidates.select(
        F.col(c_id).alias("candidate_id"),
        F.col(c_vec).cast("array<double>").alias("_cv"),
        l2_norm(c_vec).alias("_cn"),
        bucket_of(c_vec).alias("_bucket"),
    )
    joined = cb.join(F.broadcast(qb), "_bucket").filter(
        F.col("query_id") != F.col("candidate_id")
    )
    scored = joined.select(
        "query_id", "candidate_id", _paired_cosine().alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("candidate_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    ``n_centroids`` cells, probe the query's ``nprobe`` nearest cells,
    exact-cosine rerank within them.

    Deterministic coarse quantizer: the ``n_centroids`` lowest-id corpus
    vectors are the centroids (k-means would move them; a fixed seed set
    keeps the whole structure reproducible — and SQL-expressible for the
    oracle). The ids need not be dense or numeric: the centroid set is
    the actual ``sort ... limit n_centroids`` over ``c_id`` (a
    TakeOrderedAndProject — no full sort), so string ids or ids starting
    at 100 select a full centroid set instead of a partial/empty one.
    Scale shape:

      * centroids are a broadcast 8-row frame — assignment is a
        broadcast join + ``min(struct(dist, cid))`` HashAggregate, so
        the corpus is never shuffled by a window;
      * the probe join is keyed on the cell id — per-query work is
        bounded by the probed cells' sizes, never the corpus.
    """
    from ..functions.vectors import l2_sq

    cents = (
        candidates.select(F.col(c_id).alias("_cid"), F.col(c_vec).alias("_ctr"))
        .orderBy("_cid")
        .limit(n_centroids)
    )

    # corpus side: one cell per vector, argmin distance (ties -> min cid)
    cd = (
        _prenormed(candidates, c_id, c_vec, "c")
        .withColumnRenamed(c_id, "candidate_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("_d", l2_sq(F.col("_cv"), F.col("_ctr")))
    )
    cand_cells = (
        cd.groupBy("candidate_id")
        .agg(
            F.min(F.struct("_d", "_cid")).alias("_m"),
            F.first("_cv").alias("_cv"),
            F.first("_cn").alias("_cn"),
        )
        .select("candidate_id", "_cv", "_cn", F.col("_m._cid").alias("_cid"))
    )

    # query side: nprobe nearest cells (query sets are small; a ranking
    # window over n_centroids rows per query is fine)
    qd = (
        _prenormed(queries, q_id, q_vec, "q")
        .withColumnRenamed(q_id, "query_id")
        .crossJoin(F.broadcast(cents))
        .withColumn("_d", l2_sq(F.col("_qv"), F.col("_ctr")))
    )
    w_probe = Window.partitionBy("query_id").orderBy("_d", "_cid")
    q_cells = (
        qd.withColumn("_rnk", F.row_number().over(w_probe))
        .filter(F.col("_rnk") <= nprobe)
        .select("query_id", "_qv", "_qn", "_cid")
    )

    joined = cand_cells.join(F.broadcast(q_cells), "_cid").filter(
        F.col("query_id") != F.col("candidate_id")
    )
    scored = joined.select(
        "query_id", "candidate_id", _paired_cosine().alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("candidate_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: str = "random",
) -> DataFrame:
    """(id_a < id_b, sim ≥ threshold) within LSH buckets — embedding-space
    near-duplicate candidates for dedup. ``planes="axis"`` buckets on
    element signs (SQL-reproducible, see hyperplane_lsh_topk)."""
    if planes == "axis":
        bucket = _axis_bucket_expr(vec_col, n_planes)
    else:
        bucket = _bucket_expr(vec_col, _hyperplanes(dim, n_planes, seed))
    b = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        l2_norm(vec_col).alias("_n"),
        bucket.alias("_bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    # norms/casts hoisted per ROW (see _paired_cosine): the sim>=threshold
    # predicate is pushed into the join condition by Catalyst, so every
    # candidate pair evaluates the sim expression there — per-pair cost is
    # now one dot fold instead of dot + two norm folds + two array casts
    sim = (
        dot(F.col("l._v"), F.col("r._v")) / (F.col("l._n") * F.col("r._n"))
    )
    return (
        l.join(
            r,
            (F.col("l._bucket") == F.col("r._bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
