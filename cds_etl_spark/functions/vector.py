"""Vector column functions over ``array<float|double>`` embeddings.

All of these are built from Spark higher-order functions (``zip_with``,
``aggregate``) — they run JVM-side with no Python/Arrow transfer,
which is the scale path for 100 TB embedding tables. The one
Pandas-UDF batched variant (numpy dot) is
``operators/similarity.cosine_topk_pandas``, for wide-batch top-k where
BLAS wins.

Accumulation is sequential left-to-right in double precision, matching
DuckDB's list_dot_product/list_cosine_similarity on DOUBLE[] closely
enough that 4-decimal rounding is stable (verified in tests).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Sequential dot product of two equal-length numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a, b) = a·b / (|a| * |b|)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))

