"""Similarity search over embedding columns (``array<float>``).

Search tiers, per SURVEY.md §7.1 M5:

* ``cosine_topk``      — exact brute-force top-k: the correctness
  baseline. Scan-parallel scoring + ``TakeOrderedAndProject`` (each
  partition keeps k rows, driver merges k·P) — no global sort ever
  materializes. This is the right plan even at 100 TB when k is small:
  one pass, no shuffle except the k-row-per-partition merge.
* ``ivf_assign`` / ``ivf_topk`` — IVF (inverted-file) ANN: vectors are
  partitioned by nearest coarse centroid at index-build time; a query
  probes only the ``nprobe`` nearest centroid buckets, cutting scanned
  rows to ~nprobe/n_centroids of the corpus. The assignment column
  doubles as the blocking key for embedding near-dup joins
  (operators/dedup.embedding_neardup_pairs).
* ``cosine_topk_pandas`` — Arrow-batched numpy variant of the scorer:
  same results, matrix–vector product per batch. Wins when the
  embedding dimension is large enough that per-element codegen loses
  to BLAS; kept as an alternative physical strategy for the same
  logical op.

* ``hyperplane_lsh_assign`` — data-independent signed-projection
  buckets (qs112), the LSH counterpart of the IVF assignment.
* ``pq_encode`` / ``pq_adc_topk`` — product-quantization codes and
  integer-exact asymmetric-distance search over them (qs151).

Centroids are the caller's ``(cid, cvec)`` frame. The oracle-checked
queries (qs59, qs248) take the first C vectors, so DuckDB can replay
the exact algorithm; qs248 is one Lloyd iteration over them.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from cds_etl_spark.functions.vector import cosine_similarity, dot_product, l2_norm


def cosine_topk(
    df: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``df`` against a single query vector
    (one-row DataFrame with column ``qvec``). The query side is
    broadcast; scoring fuses into the scan stage."""
    return (
        df.join(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col).cast("array<double>"), F.col("qvec")).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine,
    centroid-id tiebreak): the IVF index build.

    Centroids (C rows) are broadcast; the argmax over the C-way
    crossJoin is a MAX-STRUCT aggregate keyed by vector id — map-side
    partial aggregation collapses each vector's C candidate rows
    before the exchange, so the shuffle carries ONE row per vector,
    not C·n (a window row_number here sort-shuffles the full C·n
    expansion — the r5 formulation; see BASELINE r6 ANN evidence for
    the end-to-end build numbers). Cosine is rounded to 6 dp before the argmax so near-ties
    resolve by centroid id identically on any engine (the max key is
    (sim, -cid): highest similarity, then smallest centroid id).
    """
    # r15 (guide §4.3/§8): norms once per SIDE before the C-way
    # expansion — cosine_similarity per pair ran three interpreted HOF
    # passes (dot + both self-dots) over every (vector, centroid) row;
    # dot/(vn*cn) associates exactly like dot/(|a|*|b|), so the doubles
    # are bit-identical.
    scored = (
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .withColumn("_vn", l2_norm(F.col("_v")))
        .join(
            F.broadcast(
                centroids.select(
                    F.col(cid_col),
                    F.col(cvec_col),
                    l2_norm(F.col(cvec_col)).alias("_cn"),
                )
            )
        )
        .select(
            id_col,
            "_v",
            F.col(cid_col),
            F.round(
                dot_product(F.col("_v"), F.col(cvec_col))
                / (F.col("_vn") * F.col("_cn")),
                6,
            ).alias("_sim"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(cid_col).alias("c"), F.col("_v").alias("v")),
            F.struct(F.col("_sim"), (-F.col(cid_col)).alias("_nc")),
        ).alias("_best")
    )
    return best.select(
        F.col(id_col),
        F.col("_best.v").alias(vec_col),
        F.col("_best.c").alias(cid_col),
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
) -> DataFrame:
    """IVF search: rank centroids against the query, keep the best
    ``nprobe``, scan only vectors assigned to those buckets, exact
    top-k within. At scale the assigned table is *partitioned by cid*
    on disk, so the probe filter is partition pruning — the scan reads
    nprobe/C of the data."""
    probed = (
        centroids.join(F.broadcast(query_vec))
        .select(
            F.col(cid_col),
            F.round(cosine_similarity(F.col(cvec_col), F.col("qvec")), 6).alias("_csim"),
        )
        .orderBy(F.col("_csim").desc(), F.col(cid_col))
        .limit(nprobe)
        .select(cid_col)
    )
    return (
        assigned.join(F.broadcast(probed), cid_col)
        .join(F.broadcast(query_vec))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("qvec")), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def cosine_topk_pandas(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched brute-force scorer: numpy matrix–vector cosine per
    batch (BLAS), then the same TakeOrderedAndProject top-k. Identical
    results to cosine_topk; alternative physical strategy for wide
    embeddings."""
    import numpy as np

    q = np.asarray(query, dtype="float64")
    qn = float(np.sqrt((q * q).sum()))

    @F.pandas_udf(DoubleType())
    def _score(v: pd.Series) -> pd.Series:
        m = np.asarray(v.tolist(), dtype="float64")
        sims = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return pd.Series(sims)

    return (
        df.select(F.col(id_col), _score(F.col(vec_col)).alias("sim"))
        .orderBy(F.col("sim").desc(), id_col)
        .limit(k)
    )


def lsh_sign_matrix(seed: int, n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane components from md5 parity — pure
    Python, no RNG state, so the identical matrix is reproducible by
    any engine (or generated into SQL text, as qs112's oracle does)."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{seed}:{i}:{d}".encode()).digest()[0] & 1
            else -1
            for d in range(dim)
        ]
        for i in range(n_bits)
    ]


def hyperplane_lsh_assign(
    df: DataFrame,
    dim: int,
    n_bits: int = 16,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (signed-projection) LSH bucketing: bucket =
    the n_bits sign pattern of the vector's dot products with ±1
    hyperplanes. Cosine-similar vectors collide with probability
    1 - angle/pi per bit — the LSH-family counterpart of the IVF index
    above (data-independent: no centroid training pass, stable under
    corpus drift).

    Scale shape: the whole bucket computation is ONE projection fused
    into the scan — unrolled ±sums over the vector components, no
    explode, no join, no shuffle, no Python. Writing the result
    partitioned by ``bucket`` turns probes into partition pruning,
    exactly like the IVF layout. Sums run left-to-right in doubles, so
    bucket ids are bit-identical across engines.
    """
    signs = lsh_sign_matrix(seed, n_bits, dim)
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for i, row in enumerate(signs):
        dot = None
        for d, s in enumerate(row):
            term = v[d] if s > 0 else -v[d]
            dot = term if dot is None else dot + term
        bit = F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.select(
        F.col(id_col), F.col(vec_col), bucket.cast("long").alias("bucket")
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011): split each
    vector into ``n_sub`` sub-vectors and replace each with the id of
    its best-matching sub-codeword (max dot product, codeword-id
    tiebreak). Output: one (id, sub, code) row per sub-space — the PQ
    code table, n_sub small integers per vector instead of the vector.

    ``codebooks`` is (sub, code, cwvec): K codewords per sub-space,
    broadcast everywhere (K·n_sub rows — hundreds, driver-sized). The
    argmax is a broadcast-crossjoin + MAX-STRUCT aggregate (rounded to
    6 dp pre-argmax for engine-portable ties): lexicographic max gets
    map-side partial aggregation, so the shuffle carries one row per
    (vector, sub) — K× less than a windowed row_number would ship.
    At 100 TB the encode is one scan projection; the 64× compression
    (64 floats → 4 bytes here) is what makes billion-vector ANN RAM-
    resident.
    """
    subs = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col).cast("array<double>"), s * sub_dim + 1, sub_dim)
                    for s in range(n_sub)
                ]
            )
        ).alias("sub", "_sv"),
    )
    # Argmax inner product: the qs151 oracle contract. It ranks
    # large-norm codewords up regardless of fit, so it is a replayable
    # encoding, not a minimum-reconstruction-error one.
    fit = F.round(dot_product(F.col("_sv"), F.col("cwvec")), 6)
    scored = subs.join(F.broadcast(codebooks), "sub").select(
        id_col,
        "sub",
        F.col("code"),
        fit.alias("_d"),
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(
            F.max(
                F.struct(F.col("_d"), (-F.col("code")).alias("_nc"), F.col("code"))
            ).alias("_b")
        )
        .select(id_col, "sub", F.col("_b.code").alias("code"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance PQ search: precompute the query's dot
    product against every codeword (a K·n_sub lookup table, broadcast),
    then score every encoded vector as the SUM of its n_sub table
    entries — never touching the original vectors.

    Determinism: each table entry is rounded to integer micro-units
    (ROUND(dot·1e6) → BIGINT) so the per-vector sum is exact integer
    arithmetic — accumulation order cannot flip a rank, unlike a float
    sum of rounded doubles (the "round the small side, keep the big
    side integer" pattern). Returns (id, score_e6) top-k, id tiebreak.
    """
    lut = (
        codebooks.join(F.broadcast(query_vec))
        .select(
            "sub",
            "code",
            F.round(
                dot_product(
                    F.col("cwvec"),
                    F.slice(F.col("qvec"), F.col("sub") * sub_dim + 1, sub_dim),
                )
                * 1_000_000
            )
            .cast("long")
            .alias("_e6"),
        )
    )
    return (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.sum("_e6").alias("score_e6"))
        .orderBy(F.col("score_e6").desc(), id_col)
        .limit(k)
    )
