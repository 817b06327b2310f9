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


def dot_product_fixed(a: Column, b: Column, dim: int) -> Column:
    """Dot product UNROLLED for a known dimension: a flat
    ``a[0]*b[0] + … + a[dim-1]*b[dim-1]`` expression tree.

    Same left-to-right double accumulation as :func:`dot_product`
    (bit-identical results), but expressed as a flat arithmetic tree
    instead of a HOF (``aggregate`` over ``zip_with`` materializes a
    zipped array per row). CAUTION (r15 measured): at dim=64 the
    255-node tree exceeds what whole-stage codegen will inline and is
    evaluated interpreted — ~2.6 µs/row vs ~0.2 µs/row for the HOF on
    a 1M-row projection, and 14x slower in a join's pair stage
    (qs146). Unrolling wins only for SMALL fixed widths or when the
    alternative is MANY separate HOF passes over one array (the
    qs402 16-projection shape — BASELINE r13). Prefer
    :func:`dot_product` for full-width dots."""
    dot = None
    for i in range(dim):
        term = F.element_at(a, i + 1) * F.element_at(b, i + 1)
        dot = term if dot is None else dot + term
    return dot
