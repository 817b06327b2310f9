"""Round-6 corpus-pipeline operators: SemDeDup, incremental LSH dedup,
Gopher quality flags, PII redaction, temperature mixing weights.

The registry differential (test_oracle_queries) already value-checks
qs146-qs150 against DuckDB; these tests pin the OPERATOR-level
invariants the oracles can't see — survivor-rule semantics, index/batch
consistency with the self-join path, redaction completeness, and the
weight-family algebra.
"""

import pytest
from pyspark.sql import functions as F

from cds_etl_spark.operators.dedup import (
    minhash_lsh_incremental,
    minhash_lsh_pairs,
    semantic_dedup,
)
from cds_etl_spark.operators.pii import PII_PATTERNS, pii_counts, pii_redact
from cds_etl_spark.operators.sampling import temperature_weights
from cds_etl_spark.operators.text_analysis import gopher_quality_flags


# ---------------------------------------------------------------- SemDeDup
@pytest.fixture(scope="module")
def emb(spark):
    # 2 well-separated anchor directions; e2/e3 near-dups of e1's
    # direction, e4 the lone member of the second cluster.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (10, [0.9, 0.1, 0.0]),
        (11, [0.95, 0.05, 0.0]),
        (12, [0.88, 0.12, 0.0]),
        (20, [0.1, 0.9, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_survivor_rule(emb):
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    out = {r["vec_id"]: r for r in semantic_dedup(emb, anchors, threshold=0.9).collect()}
    assert len(out) == 6  # every input row classified
    # Cluster 0: anchor 0 plus 10/11/12 all mutually cos>0.9 — the
    # LOWEST id (0) survives, every higher id is a dup.
    assert not out[0]["is_dup"]
    for vid in (10, 11, 12):
        assert out[vid]["cid"] == 0 and out[vid]["is_dup"], vid
    # Cluster 1: anchor 1 survives; 20 is within 0.9 of it -> dup.
    assert not out[1]["is_dup"]
    assert out[20]["cid"] == 1 and out[20]["is_dup"]


def test_semantic_dedup_threshold_1_keeps_all(emb):
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    # Nothing reaches rounded-cosine >= 1.01 — zero dups.
    out = semantic_dedup(emb, anchors, threshold=1.01)
    assert out.filter(F.col("is_dup")).count() == 0


# ------------------------------------------------- incremental LSH dedup
def test_incremental_matches_self_join_cross_pairs(spark):
    def text(n, prefix="t"):
        return " ".join(f"{prefix}{i}" for i in range(1, n + 1))

    rows = [
        (1, text(12)),          # index
        (2, text(12)),          # index, exact dup of 1
        (3, text(40, "z")),     # index, unrelated
        (101, text(12)),        # batch, dup of 1/2
        (102, text(40, "q")),   # batch, unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = docs.filter(F.col("doc_id") > 100)
    index = docs.filter(F.col("doc_id") <= 100)
    inc = {
        (r["new_id"], r["index_id"])
        for r in minhash_lsh_incremental(batch, index).collect()
    }
    # Ground truth: the self-join path over the union, restricted to
    # cross-split pairs, must agree exactly (same signatures, same
    # bands, same refine threshold).
    full = minhash_lsh_pairs(docs).collect()
    expected = {
        (max(r["d1"], r["d2"]), min(r["d1"], r["d2"]))
        for r in full
        if (r["d1"] > 100) != (r["d2"] > 100)
    }
    assert inc == expected == {(101, 1), (101, 2)}


# ---------------------------------------------------------- Gopher rules
def test_gopher_flags(spark):
    long_ok = " ".join(["word"] * 48 + ["the", "and"])  # 50 words, 2 stopwords
    short = "the and tiny"
    numeric = " ".join(["123"] * 48 + ["the", "and"])  # alpha fraction 0.04
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, numeric)], "doc_id long, text string"
    )
    flags = gopher_quality_flags(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in flags.items()]
        ).collect()
    }
    assert rows[1]["words_ok"] and rows[1]["stopwords_ok"] and rows[1]["pass"]
    assert not rows[2]["words_ok"] and not rows[2]["pass"]
    assert rows[3]["words_ok"] and not rows[3]["alpha_ok"] and not rows[3]["pass"]


# ------------------------------------------------------------------- PII
def test_pii_redact_is_complete(spark):
    txt = (
        "mail bob.smith+x@corp.example.org tel 12-345-678-9012 "
        "ssn 123-45-6789 host 192.168.001.1 done"
    )
    df = spark.createDataFrame([(txt,)], "t string")
    counts = {k: v.alias(k) for k, v in pii_counts(F.col("t")).items()}
    row = df.select(*counts.values(), pii_redact(F.col("t")).alias("red")).first()
    assert row["email"] == 1 and row["phone"] == 1
    assert row["ssn"] == 1 and row["ipv4"] == 1
    # Redacted text contains every tag and NO residual matches: re-scan
    # of the redacted text must count zero in every category.
    for name in PII_PATTERNS:
        assert f"[{name.upper()}]" in row["red"]
    rescan = (
        spark.createDataFrame([(row["red"],)], "t string")
        .select(*[v.alias(k) for k, v in pii_counts(F.col("t")).items()])
        .first()
    )
    assert all(rescan[k] == 0 for k in PII_PATTERNS), rescan


# ------------------------------------------------- temperature weights
def test_temperature_weights_algebra(spark):
    df = spark.createDataFrame(
        [("en",)] * 100 + [("de",)] * 25 + [("fr",)] * 4, "lang string"
    )
    w = {r["lang"]: r for r in temperature_weights(df, ["lang"], 0.5).collect()}
    # Largest group pins the scale at exactly 1e6.
    assert w["en"]["weight_e6"] == 1_000_000
    # alpha=0.5: weight ratio is sqrt of the count ratio (exact here:
    # 25/100 -> 1/2, 4/100 -> 1/5).
    assert w["de"]["weight_e6"] == 500_000
    assert w["fr"]["weight_e6"] == 200_000
    # alpha=1 degenerates to proportional.
    w1 = {r["lang"]: r for r in temperature_weights(df, ["lang"], 1.0).collect()}
    assert w1["de"]["weight_e6"] == 250_000


# ------------------------------------------------------------ PQ ANN
def test_pq_encode_and_adc_exact_on_orthogonal_codebook(spark):
    """With orthogonal unit codewords and vectors that ARE codeword
    concatenations, PQ is lossless: encode recovers the constructing
    codes and ADC equals the exact dot product in micro-units."""
    from cds_etl_spark.operators.similarity import pq_adc_topk, pq_encode

    # 2 sub-spaces x 2 dims; codewords e0=[1,0], e1=[0,1] per sub.
    cb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0]),
         (1, 0, [1.0, 0.0]), (1, 1, [0.0, 1.0])],
        "sub int, code long, cwvec array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0, 1.0]),   # codes (0,1)
         (11, [0.0, 1.0, 1.0, 0.0]),   # codes (1,0)
         (12, [1.0, 0.0, 1.0, 0.0])],  # codes (0,0)
        "vec_id long, embedding array<float>",
    )
    codes = {
        (r["vec_id"], r["sub"]): r["code"]
        for r in pq_encode(vecs, cb, n_sub=2, sub_dim=2).collect()
    }
    assert codes == {(10, 0): 0, (10, 1): 1, (11, 0): 1, (11, 1): 0,
                     (12, 0): 0, (12, 1): 0}
    q = spark.createDataFrame([([1.0, 0.0, 0.0, 1.0],)], "qvec array<double>")
    top = pq_adc_topk(
        pq_encode(vecs, cb, n_sub=2, sub_dim=2), cb, q, k=3, n_sub=2, sub_dim=2
    ).collect()
    # Exact dots vs q: v10=2, v12=1, v11=0 — ADC must rank identically
    # with exact micro-unit scores.
    assert [(r["vec_id"], r["score_e6"]) for r in top] == [
        (10, 2_000_000), (12, 1_000_000), (11, 0),
    ]


# ------------------------------------------------------------ Bloom
def test_bloom_no_false_negatives_and_fp_bounded(spark):
    from cds_etl_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(40)], "s string"
    )
    bloom = bloom_build(members, "s")
    # Every member must hit (Bloom's no-false-negative guarantee).
    probe_members = spark.createDataFrame(
        [(i, f"m{i}") for i in range(40)], "id long, s string"
    )
    hits = {r["id"]: r["hit"] for r in bloom_probe(probe_members, bloom, "s", "id").collect()}
    assert all(hits[i] == 1 for i in range(40))
    # Non-members: false-positive rate bounded well under 50% at this
    # load (k=3, n=40, m=2048 -> theoretical ~0.02%).
    probe_out = spark.createDataFrame(
        [(i, f"x{i}") for i in range(200)], "id long, s string"
    )
    fp = sum(
        r["hit"] for r in bloom_probe(probe_out, bloom, "s", "id").collect()
    )
    assert fp <= 10, fp


def test_bloom_merge_is_bit_or(spark):
    from pyspark.sql import functions as F
    from cds_etl_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], "s string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], "s string")
    both = bloom_build(a.union(b), "s")
    merged = (
        bloom_build(a, "s")
        .unionByName(bloom_build(b, "s"))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert {(r["word"], r["bits"]) for r in both.collect()} == {
        (r["word"], r["bits"]) for r in merged.collect()
    }


# ------------------------------------------- histogram quantile sketch
def test_histogram_quantile_merges_by_counter_addition(spark):
    """Shard histograms merge by adding counters: quantiles over the
    union equal quantiles from the merged histogram — the property
    that lets every shard sketch independently (same contract as
    CMS/HLL merge)."""
    from pyspark.sql import functions as F
    from cds_etl_spark.operators.sketches import histogram_quantile_buckets

    rows = [("g", float(v)) for v in range(1000)]
    df = spark.createDataFrame(rows, "g string, v double")
    whole = histogram_quantile_buckets(df, "g", "v", bucket_width=10.0, n_buckets=128)
    # Shard by parity, histogram each, merge counters, re-derive.
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    merged = histogram_quantile_buckets(a.union(b), "g", "v", bucket_width=10.0, n_buckets=128)
    assert whole.collect() == merged.collect()
    r = whole.first()
    # 0..999 with width 10: P50 -> bucket 49 (lo 490), P90 -> 890, P99 -> 980.
    assert (r["total"], r["q50_lo"], r["q90_lo"], r["q99_lo"]) == (1000, 490, 890, 980)


def test_minhash_fast_family_finds_the_same_duplicates(spark):
    """The xxhash64 fast family must find the same high-jaccard pairs
    as the portable md5 family on a corpus with planted duplicates:
    different hashes, same blocking guarantee, identical exact-refine
    verdicts for the pairs both families surface."""
    from cds_etl_spark.operators.dedup import minhash_lsh_pairs

    def text(n, prefix="t"):
        return " ".join(f"{prefix}{i}" for i in range(1, n + 1))

    rows = [
        (1, text(20)), (2, text(20)),                  # exact dup pair
        (3, text(20) + " extra token here"),           # near dup of 1/2
        (4, text(50, "z")), (5, text(50, "z")),        # second dup pair
        (6, text(40, "q")),                            # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    portable = {
        (r["d1"], r["d2"]): round(r["jac"], 6)
        for r in minhash_lsh_pairs(docs).collect()
    }
    fast = {
        (r["d1"], r["d2"]): round(r["jac"], 6)
        for r in minhash_lsh_pairs(docs, hash_family="fast").collect()
    }
    # Planted exact dups MUST appear under both families (identical
    # signatures collide on every band regardless of hash function).
    for pair in [(1, 2), (4, 5)]:
        assert pair in portable and pair in fast, pair
    # Where both surface a pair, the exact-refine jaccard is identical.
    for pair in set(portable) & set(fast):
        assert portable[pair] == fast[pair]


def test_bloom_fast_family_no_false_negatives(spark):
    """Bloom's guarantee is hash-family independent: every member hits
    under the xxhash64 fast family too, and a filter built with one
    family probed with the same family behaves identically to the
    portable pairing (families must simply never mix)."""
    from cds_etl_spark.operators.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame([(f"m{i}",) for i in range(40)], "s string")
    probe = spark.createDataFrame(
        [(i, f"m{i}") for i in range(40)], "id long, s string"
    )
    bloom = bloom_build(members, "s", hash_family="fast")
    hits = {
        r["id"]: r["hit"]
        for r in bloom_probe(probe, bloom, "s", "id", hash_family="fast").collect()
    }
    assert all(hits[i] == 1 for i in range(40))
    outs = spark.createDataFrame(
        [(i, f"x{i}") for i in range(200)], "id long, s string"
    )
    fp = sum(
        r["hit"]
        for r in bloom_probe(outs, bloom, "s", "id", hash_family="fast").collect()
    )
    assert fp <= 10, fp


def test_persisted_minhash_index_roundtrip(spark, tmp_path):
    """build → probe must equal the in-memory incremental path with
    the same family, and append-then-probe must surface dups against
    the appended batch — the continuous-dedup loop."""
    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_incremental,
        probe_minhash_index,
    )

    def text(n, prefix="t"):
        return " ".join(f"{prefix}{i}" for i in range(1, n + 1))

    corpus = spark.createDataFrame(
        [(1, text(12)), (2, text(12)), (3, text(40, "z"))],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(101, text(12)), (102, text(40, "q"))], "doc_id long, text string"
    )
    path = str(tmp_path / "mh_index")
    build_minhash_index(corpus, path, hash_family="fast")
    via_index = {
        (r["new_id"], r["index_id"])
        for r in probe_minhash_index(
            spark, batch1, path, hash_family="fast"
        ).collect()
    }
    direct = {
        (r["new_id"], r["index_id"])
        for r in minhash_lsh_incremental(
            batch1, corpus, hash_family="fast"
        ).collect()
    }
    assert via_index == direct == {(101, 1), (101, 2)}
    # Append batch1; a later duplicate of 101 must now hit it.
    build_minhash_index(batch1, path, hash_family="fast", mode="append")
    batch2 = spark.createDataFrame([(201, text(12))], "doc_id long, text string")
    hits = {
        (r["new_id"], r["index_id"])
        for r in probe_minhash_index(
            spark, batch2, path, hash_family="fast"
        ).collect()
    }
    assert hits == {(201, 1), (201, 2), (201, 101)}
