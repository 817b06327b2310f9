"""Hyperplane-LSH bucketing and the IVF assignment: bucketing
determinism, angular locality on planted neighbours, and
``ivf_assign`` against a numpy argmax reference."""

from pyspark.sql import functions as F

from cds_etl_spark.catalog import load_table
from cds_etl_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_assign,
    ivf_assign,
)


def test_lsh_assign_is_deterministic_and_total(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a = hyperplane_lsh_assign(e, dim=64, n_bits=8)
    b = hyperplane_lsh_assign(e, dim=64, n_bits=8)
    assert a.count() == e.count()  # every vector gets exactly one bucket
    assert (
        a.join(b.withColumnRenamed("bucket", "b2"), "vec_id")
        .filter(F.col("bucket") != F.col("b2"))
        .count()
        == 0
    )
    # buckets stay in the n_bits range
    assert a.filter((F.col("bucket") < 0) | (F.col("bucket") > 255)).count() == 0

    # LSH's guarantee is about ANGULAR closeness (per-bit collision
    # prob 1 - angle/pi), so locality is asserted on planted near-angle
    # neighbours — the near-duplicate case the operator exists for —
    # not on this corpus's near-random top-10 (which sit at ~90°, where
    # no angular hash has signal). The 5 neighbours are deterministic
    # small per-component scalings of vec 7 (a few degrees off), ids
    # 100001..100005.
    ed = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = ed.filter(F.col("vec_id") == 7)
    planted = None
    for i in range(1, 6):
        p = base.select(
            (F.lit(100000 + i)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, idx: x * (1.0 + 0.02 * i * ((idx % 3).cast("double") - 1.0)),
            ).alias("embedding"),
        )
        planted = p if planted is None else planted.unionByName(p)
    corpus = ed.unionByName(planted)
    q = base.select(F.col("embedding").alias("qvec"))
    exact = {r["vec_id"] for r in cosine_topk(corpus, q, k=6).collect()}
    assert exact == {7, 100001, 100002, 100003, 100004, 100005}
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in hyperplane_lsh_assign(
            corpus.filter(F.col("vec_id").isin(*exact)), dim=64, n_bits=8
        ).collect()
    }
    # every planted neighbour lands in the query's bucket or one of
    # its 1-bit flips (the multiprobe set)
    hamming = {i: bin(b ^ buckets[7]).count("1") for i, b in buckets.items()}
    assert all(d <= 1 for d in hamming.values()), hamming


def test_ivf_assign_matches_numpy_argmax(spark):
    """``ivf_assign`` gives every vector the centroid of maximal
    6-dp-rounded cosine, ties resolving to the smallest centroid id —
    checked against a numpy argmax over the same vectors."""
    import numpy as np

    rng = np.random.default_rng(17)
    centers = rng.normal(0, 1, (8, 16))
    vecs = []
    for i in range(300):
        c = centers[i % 8]
        vecs.append((i, [float(x) for x in c + rng.normal(0, 0.2, 16)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    # cid 9 duplicates centroid 5: every blob-5 vector scores an exact
    # tie between them and must take cid 5.
    cids = list(range(8)) + [9]
    cmat = np.vstack([centers, centers[5]])
    cents = spark.createDataFrame(
        [(cid, [float(x) for x in c]) for cid, c in zip(cids, cmat)],
        "cid int, cvec array<double>",
    )
    got = {r["vec_id"]: r["cid"] for r in ivf_assign(df, cents).collect()}

    expect = {}
    norms = np.linalg.norm(cmat, axis=1)
    for vid, v in vecs:
        v = np.asarray(v)
        sims = np.round(cmat @ v / (norms * np.linalg.norm(v)), 6)
        # max over (sim, -cid): highest similarity, then smallest cid
        expect[vid] = -max(zip(sims, (-c for c in cids)))[1]
    assert got == expect
    assert all(cid == 5 for vid, cid in got.items() if vid % 8 == 5)
    assert 9 not in got.values()
