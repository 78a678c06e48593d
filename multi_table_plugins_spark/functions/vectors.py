"""Vector math over ``array<float|double>`` columns using Spark
higher-order functions — JVM-evaluated, no UDF, no serialization.

``zip_with`` multiplies element-wise; ``aggregate`` folds the sum in array
order (deterministic — important for oracle-comparable results)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _d(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance — fold of (x-y)^2 in array order (oracle:
    ``list_sum(list_transform(list_zip(a,b), x -> (x1-x2)^2))``)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
