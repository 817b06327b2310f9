"""Length-band blocking in ngram_jaccard_pairs.

The geometric length band (base 1/min_jaccard) must be part of the
join's equi-key — that is what bounds the per-block candidate space at
corpus scale — while changing NOTHING about the result: J(A,B) >= t
implies the size ratio is >= t, which implies band distance <= 1, and
the 3-probe explode covers distance-1 pairs exactly once.
"""

import pytest
from pyspark.sql import functions as F

from cds_etl_spark.operators.dedup import ngram_jaccard_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, lang string, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    # Token streams t1..tN: doc with N tokens has N-2 distinct 3-shingles.
    def text(n, prefix="t"):
        return " ".join(f"{prefix}{i}" for i in range(1, n + 1))

    return _docs(
        spark,
        [
            # Near-dup pair whose shingle counts (7 vs 9) STRADDLE a
            # geometric band boundary at t=0.5 (floor(log2 7)=2,
            # floor(log2 9)=3): jac = 7/9 ≈ 0.78. A hard band would
            # lose it; the probe explode must keep it.
            ("a1", "en", text(9)),
            ("a2", "en", text(11)),
            # Same-band near-dup (identical): must pair.
            ("b1", "en", text(6, "x")),
            ("b2", "en", text(6, "x")),
            # Same lang, wildly different length: ratio prune excludes.
            ("c1", "en", text(100, "y")),
            # Different lang, same text as b*: block excludes.
            ("d1", "fr", text(6, "x")),
        ],
    )


def test_banding_is_exact_vs_unbanded(corpus):
    banded = {
        tuple(r)
        for r in ngram_jaccard_pairs(corpus, block_cols=("lang",)).collect()
    }
    plain = {
        tuple(r)
        for r in ngram_jaccard_pairs(
            corpus, block_cols=("lang",), length_bands=False
        ).collect()
    }
    assert banded == plain
    pairs = {(d1, d2) for d1, d2, _ in banded}
    assert ("a1", "a2") in pairs  # boundary-straddling pair survives
    assert ("b1", "b2") in pairs
    assert all("c1" not in p and "d1" not in p for p in pairs)


def test_band_is_an_equi_join_key(corpus):
    """The band must appear in the join's equi-key (hash-partitioned /
    hashed on it), not as a post-join filter — that is the scale
    property: candidates hash-bucket by (block, band)."""
    plan = ngram_jaccard_pairs(corpus, block_cols=("lang",))._jdf.queryExecution().executedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "probe" in ln]
    assert join_lines, f"no join keyed on _probe in plan:\n{plan[:2000]}"
    assert any("_band" in ln for ln in join_lines)


def test_jaccard_value_exact(corpus, spark):
    rows = {
        (r.d1, r.d2): r.jac
        for r in ngram_jaccard_pairs(corpus, block_cols=("lang",)).collect()
    }
    assert rows[("a1", "a2")] == pytest.approx(7 / 9)
    assert rows[("b1", "b2")] == pytest.approx(1.0)


# ----------------------------------------------------- embedding_neardup_pairs


def test_embedding_neardup_unblocked_raises(spark):
    """block_col=None must not silently build the O(n^2) all-pairs
    self-join — the guard routes users to a quantizer instead."""
    from cds_etl_spark.operators.dedup import embedding_neardup_pairs

    vecs = spark.createDataFrame(
        [(1, "a", [1.0, 0.0]), (2, "a", [1.0, 0.01]), (3, "b", [0.0, 1.0])],
        "vec_id long, label string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_neardup_pairs(vecs, block_col=None)
    # Explicit opt-in still works for deliberately small inputs...
    full = embedding_neardup_pairs(vecs, block_col=None, allow_full_scan=True)
    assert {(r.d1, r.d2) for r in full.filter("cos > 0.99").collect()} == {(1, 2)}
    # ...and the blocked default path is unchanged.
    blocked = embedding_neardup_pairs(vecs, min_cosine=0.99)
    assert {(r.d1, r.d2) for r in blocked.collect()} == {(1, 2)}


# -------------------------------------------------------------- segment_dedup


def test_segment_dedup_boilerplate_and_reassembly(spark):
    from cds_etl_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "COOKIE\n\nalpha\n\nbeta"),
            (2, "COOKIE\n\ngamma"),
            (3, "COOKIE\n\nalpha\n\ndelta"),
            (4, "COOKIE"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in segment_dedup(
            docs, "doc_id", "text", sep="\n\n", max_doc_frequency=3
        ).collect()
    }
    # COOKIE in 4 docs -> blocked; alpha in 2 docs -> kept; order preserved
    assert out == {
        1: ("alpha\n\nbeta", 2),
        2: ("gamma", 1),
        3: ("alpha\n\ndelta", 2),
        4: ("", 0),  # fully-cleaned doc keeps its row
    }


def test_segment_dedup_first_wins(spark):
    from cds_etl_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "x\n\ny"),
            (2, "y\n\nz\n\nx"),
            (3, "z"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"])
        for r in segment_dedup(
            docs, "doc_id", "text", sep="\n\n", first_wins=True
        ).collect()
    }
    # x,y first in doc 1; z first in doc 2; doc 3 loses everything
    assert out == {1: ("x\n\ny", 2), 2: ("z", 1), 3: ("", 0)}


def test_compact_minhash_index_equivalence(spark, tmp_path):
    """Double-append then compact: both index tables collapse to one
    copy, probe pairs identical before and after."""
    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        probe_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} the quick brown fox number {i} jumps over") for i in range(12)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "midx")
    build_minhash_index(docs, idx)
    build_minhash_index(docs, idx, mode="append")
    out = str(tmp_path / "midx2")
    compact_minhash_index(spark, idx, out)
    n_sh_before = spark.read.parquet(f"{idx}/shingles").count()
    n_sh_after = spark.read.parquet(f"{out}/shingles").count()
    assert n_sh_before == 24 and n_sh_after == 12
    batch = spark.createDataFrame(
        [(100, "w3 the quick brown fox number 3 jumps over extra")],
        "doc_id long, text string",
    )
    a = {tuple(r) for r in probe_minhash_index(spark, batch, idx).collect()}
    b = {tuple(r) for r in probe_minhash_index(spark, batch, out).collect()}
    assert a == b and a


def test_winnow_guarantee_planted_shared_run(spark, tmp_path):
    """The winnowing pigeonhole guarantee, exercised on qs177's plan:
    a shared run of exactly k+w-1 = 8 tokens MUST yield a shared
    fingerprint wherever it sits. qs177 pairs documents sharing >= 3
    fingerprints, so two documents share three disjoint planted runs
    at different offsets; unrelated random documents share none, and
    reruns are identical."""
    import random

    from cds_etl_spark.plans import QUERIES

    rng = random.Random(11)

    def words(n, tag):
        return [f"{tag}{rng.randrange(10**6)}" for _ in range(n)]

    runs = [[f"run{r}_{i}" for i in range(8)] for r in range(3)]  # k+w-1 tokens
    offsets = {0: (10, 40, 80), 3: (60, 5, 100)}
    rows = []
    for doc_id in range(6):
        body = words(120, f"d{doc_id}_")
        for run, at in zip(runs, offsets.get(doc_id, ())):
            body[at : at + 8] = run
        rows.append((doc_id, " ".join(body)))
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    qs177 = QUERIES["qs177_winnow_fingerprints"]
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_fp"] for r in qs177(spark, sf).collect()}
    assert set(pairs) == {(0, 3)}, pairs  # the GUARANTEE; randoms never collide
    assert pairs[(0, 3)] >= 3
    again = {(r["doc_a"], r["doc_b"]): r["shared_fp"] for r in qs177(spark, sf).collect()}
    assert again == pairs


def test_probe_minhash_hot_band_guard(spark, tmp_path):
    """r12 index skew audit: a template duplicated k x in the index
    shares EVERY band key, so an uncapped probe containing the
    template emits k pairs per probe copy (quadratic output — measured
    1.25M pairs from 250x5000 copies at sf10). max_band_entries
    excludes those mega-bands from candidate generation; distinct
    near-dup pairs are untouched, and None keeps legacy output."""
    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    tpl = "the exact template text repeated verbatim in many rows ok"
    docs = spark.createDataFrame(
        [(i, tpl) for i in range(10)]
        + [(100 + i, f"w{i} the quick brown fox number {i} leaps far")
           for i in range(8)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "hotidx")
    build_minhash_index(docs, idx)
    batch = spark.createDataFrame(
        [(900, tpl),
         (901, "w3 the quick brown fox number 3 leaps far extra")],
        "doc_id long, text string",
    )
    uncapped = {
        (r["new_id"], r["index_id"])
        for r in probe_minhash_index(spark, batch, idx).collect()
    }
    # template probe hits all 10 index copies; the near-dup hits doc 103
    assert sum(1 for p in uncapped if p[0] == 900) == 10
    assert (901, 103) in uncapped

    capped = {
        (r["new_id"], r["index_id"])
        for r in probe_minhash_index(
            spark, batch, idx, max_band_entries=5
        ).collect()
    }
    # mega-band candidates gone, distinct near-dup pair preserved
    assert not any(p[0] == 900 for p in capped)
    assert (901, 103) in capped


def test_minhash_band_stats_self_arming(spark, tmp_path):
    """r13 self-arming guard: build writes a band_stats histogram whose
    max occupancy is exact; the default "auto" probe stays uncapped
    (and warning-free) on a healthy index, auto-caps with a
    RuntimeWarning when a band exceeds the bound (output == the
    explicit cap's), and falls back to legacy uncapped output with a
    warning on a stats-less index."""
    import warnings

    import pytest

    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    tpl = "the exact template text repeated verbatim in many rows ok"
    docs = spark.createDataFrame(
        [(i, tpl) for i in range(10)]
        + [(100 + i, f"w{i} the quick brown fox number {i} leaps far")
           for i in range(8)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "armidx")
    build_minhash_index(docs, idx)

    stats = spark.read.parquet(f"{idx}/band_stats")
    assert set(stats.columns) == {"band_idx", "occ_bucket", "n_keys", "max_occ"}
    # The 10-copy template puts 10 entries under one key in EVERY band.
    assert stats.groupBy().max("max_occ").collect()[0][0] == 10

    batch = spark.createDataFrame(
        [(900, tpl),
         (901, "w3 the quick brown fox number 3 leaps far extra")],
        "doc_id long, text string",
    )

    def pairs(**kw):
        return {
            (r["new_id"], r["index_id"])
            for r in probe_minhash_index(spark, batch, idx, **kw).collect()
        }

    # Healthy vs default bound (256 > 10): auto == legacy, no warning.
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        auto_healthy = pairs()
    assert auto_healthy == pairs(max_band_entries=None)
    assert sum(1 for p in auto_healthy if p[0] == 900) == 10

    # Hot vs a tight bound: auto warns and matches the explicit cap.
    with pytest.warns(RuntimeWarning, match="auto-capping at 5"):
        auto_hot = pairs(band_occupancy_bound=5)
    assert auto_hot == pairs(max_band_entries=5)
    assert not any(p[0] == 900 for p in auto_hot)
    assert (901, 103) in auto_hot

    # Legacy index (no stats): auto warns and preserves legacy output.
    legacy = str(tmp_path / "legacyidx")
    build_minhash_index(docs, legacy, band_stats=False)
    import os

    assert not os.path.exists(f"{legacy}/band_stats")
    with pytest.warns(RuntimeWarning, match="no band_stats"):
        got = {
            (r["new_id"], r["index_id"])
            for r in probe_minhash_index(
                spark, batch, legacy, band_occupancy_bound=5
            ).collect()
        }
    assert got == auto_healthy


def test_minhash_incremental_band_stats_equal_full_recompute(spark, tmp_path):
    """r14 (VERDICT r13 task 4): appends fold the delta's per-key
    counts into the persisted band_counts sidecar instead of
    rescanning the bands table. Exactness gate: after two incremental
    appends (one containing more copies of an id-disjoint hot
    template), BOTH sidecars must equal a from-scratch full recompute
    row for row; a legacy index without the sidecar falls back to the
    full path and self-heals (sidecar appears)."""
    import os

    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        write_minhash_band_stats,
    )

    tpl = "the exact template text repeated verbatim in many rows ok"

    def corpus(ids, tpl_every=3):
        return spark.createDataFrame(
            [
                (i, tpl)
                if i % tpl_every == 0
                else (i, f"w{i} the quick brown fox number {i} leaps far")
                for i in ids
            ],
            "doc_id long, text string",
        )

    idx = str(tmp_path / "incidx")
    build_minhash_index(corpus(range(12)), idx)
    build_minhash_index(corpus(range(100, 108)), idx, mode="append")
    build_minhash_index(corpus(range(200, 220)), idx, mode="append")

    def rows(p):
        return sorted(tuple(r) for r in spark.read.parquet(p).collect())

    inc_stats = rows(f"{idx}/band_stats")
    inc_counts = rows(f"{idx}/band_counts")
    write_minhash_band_stats(spark, idx)  # full recompute, same index
    assert inc_stats == rows(f"{idx}/band_stats")
    assert inc_counts == rows(f"{idx}/band_counts")

    # Legacy index (no sidecar): append falls back to the full path.
    legacy = str(tmp_path / "legacyinc")
    build_minhash_index(corpus(range(12)), legacy)
    import shutil

    shutil.rmtree(f"{legacy}/band_counts")
    build_minhash_index(corpus(range(100, 108)), legacy, mode="append")
    assert os.path.exists(f"{legacy}/band_counts")
    got = rows(f"{legacy}/band_stats")
    write_minhash_band_stats(spark, legacy)
    assert got == rows(f"{legacy}/band_stats")


def test_append_band_stats_plan_never_rescans_bands(spark, tmp_path):
    """r15 plan-shape contract (VERDICT r14 task 3): the incremental
    append's merged-counts plan must read the narrow band_counts
    sidecar + the batch-scale delta ONLY — a regression that rescans
    the bands table reintroduces the O(index)-per-append cost the r14
    sidecar exists to remove. Asserted on the physical plan's scan
    locations, not timings."""
    from cds_etl_spark.operators.dedup import (
        _append_merged_counts,
        build_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} the quick brown fox number {i} leaps far")
         for i in range(12)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "planidx")
    build_minhash_index(docs, idx)

    delta = spark.createDataFrame(
        [(100, 0, "k0"), (100, 1, "k1"), (101, 0, "k0")],
        "doc_id long, band_idx int, band_key string",
    )
    # FileScan Location strings truncate at maxMetadataStringLength
    # (default 100) — pytest tmp_paths are long enough to swallow the
    # trailing /band_counts, so widen it for the plan inspection.
    old_len = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        merged = _append_merged_counts(spark, idx, delta)
        plan = merged._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln
             or "Location" in ln]
    assert any("band_counts" in ln for ln in scans), plan
    assert not any(
        "/bands]" in ln or "/bands," in ln or ln.rstrip().endswith("/bands")
        for ln in scans
    ), f"append plan rescans the bands table:\n{plan}"
    # And the result is the plan we'd want at scale: one aggregate
    # over sidecar ∪ delta-aggregate, no join.
    assert "Join" not in plan, plan


def test_band_guard_rejects_typo_string_and_corrupt_stats(spark, tmp_path):
    """r14 ADVICE hardening, both probes: (a) any string other than the
    exact 'auto' raises ValueError up front — previously a typo like
    'Auto' flowed into `_n > '<str>'` where the numeric cast nulled the
    hot set and the probe ran silently uncapped; (b) a PRESENT but
    schema-corrupted band_stats re-raises the AnalysisException instead
    of being misreported as a pre-r13 legacy index; (c) the genuinely
    missing-path case still downgrades to the legacy warning."""
    import pytest

    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )
    from cds_etl_spark.operators.multimodal import probe_phash_index

    batch = spark.createDataFrame(
        [(1, "some words here for a tiny probe batch of one row")],
        "doc_id long, text string",
    )
    # (a) validation fires before any IO — a bogus path never reads.
    with pytest.raises(ValueError, match="exact string 'auto'"):
        probe_minhash_index(
            spark, batch, str(tmp_path / "nope"), max_band_entries="Auto"
        )
    sig_batch = spark.createDataFrame(
        [(1, bytes(8))], "media_id long, phash binary"
    )
    with pytest.raises(ValueError, match="exact string 'auto'"):
        probe_phash_index(
            spark, sig_batch, str(tmp_path / "nope"), max_band_entries="AUTO"
        )

    # (b) corrupt stats (wrong schema → unresolved column) re-raises.
    docs = spark.createDataFrame(
        [(i, f"w{i} the quick brown fox number {i} leaps far")
         for i in range(6)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "corruptidx")
    build_minhash_index(docs, idx)
    spark.createDataFrame([(1,)], "wrong_col long").write.mode(
        "overwrite"
    ).parquet(f"{idx}/band_stats")
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        probe_minhash_index(spark, batch, idx)

    # (c) missing path still downgrades, and the warning carries the
    # underlying condition text so real failures are distinguishable.
    import shutil

    shutil.rmtree(f"{idx}/band_stats")
    with pytest.warns(RuntimeWarning, match="no band_stats"):
        probe_minhash_index(spark, batch, idx).collect()


def test_minhash_band_stats_append_and_compact_refresh(spark, tmp_path):
    """Append mode recomputes stats over the CUMULATIVE index (not the
    batch shard), and compaction refreshes stats at the new path even
    for a band_stats=False ingest loop."""
    from cds_etl_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
    )

    tpl = "the exact template text repeated verbatim in many rows ok"
    half1 = spark.createDataFrame(
        [(i, tpl) for i in range(6)], "doc_id long, text string"
    )
    half2 = spark.createDataFrame(
        [(10 + i, tpl) for i in range(6)], "doc_id long, text string"
    )
    idx = str(tmp_path / "appidx")
    build_minhash_index(half1, idx)
    assert (
        spark.read.parquet(f"{idx}/band_stats")
        .groupBy().max("max_occ").collect()[0][0]
        == 6
    )
    build_minhash_index(half2, idx, mode="append")
    # 12 distinct ids share the template's band keys cumulatively.
    assert (
        spark.read.parquet(f"{idx}/band_stats")
        .groupBy().max("max_occ").collect()[0][0]
        == 12
    )
    out = str(tmp_path / "appidx2")
    compact_minhash_index(spark, idx, out)
    assert (
        spark.read.parquet(f"{out}/band_stats")
        .groupBy().max("max_occ").collect()[0][0]
        == 12
    )
