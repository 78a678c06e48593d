"""Token-array operations for pre-tokenized training sequences, built
from JVM higher-order functions (no per-row Python)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def token_shingles(tokens: Column | str, k: int = 3) -> Column:
    """k-gram shingles over a TOKEN-ID array (the text-free analog of
    ``textfns.word_shingles`` for pre-tokenized training sequences):
    each shingle is the '|'-joined string of k consecutive token ids —
    the dedup unit when the raw text is gone. Sequences shorter than k
    yield an empty array (explicit branch — ``sequence(1, 0)`` counts
    DOWN in Spark and index 0 is an illegal slice start)."""
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(c)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.array_join(F.slice(c, i, k).cast("array<string>"), "|"),
    )


def token_near_dup_pairs(
    df,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
):
    """Exact near-dup pairs over pre-tokenized sequences: inverted
    token-shingle index + exact Jaccard — same scale shape as the text
    pipeline (shingle-keyed candidates, stop-shingle cap, one-set-build
    verify), but over the ``tokens:array<int32>`` payload the CDC engine
    actually stores, where the original text no longer exists."""
    from ..operators import fan_out
    from ..operators.dedup import shingle_jaccard_pairs

    # fan_out stays even though the partition probe costs an extra
    # planning job on derived (post-shuffle) frames: an AQE-coalesced
    # tiny input would otherwise persist the shingle cache as ONE
    # partition and serialize every downstream map side (explode, window
    # sort, the three cache-reading branches) onto one core — A/B
    # measured +0.6-0.8 s on the full pipeline without it, more than the
    # probe costs. At scale the input already has >= parallelism
    # partitions and both the probe and the repartition are no-ops.
    sh_all = (
        fan_out(df).select(
            F.col(id_col),
            F.array_distinct(token_shingles(tokens_col, k)).alias("shingles"),
        )
        .persist()
    )
    return shingle_jaccard_pairs(sh_all, id_col, threshold, max_df)
