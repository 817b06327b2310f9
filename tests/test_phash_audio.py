"""Perceptual-hash image dedup and the persisted pHash index
(operators/multimodal.py).

pHash contract: identical pixels → identical hash regardless of the
container format; perceptually-near images (noise, brightness) →
small Hamming distance; unrelated images → large. The Hamming banding
join has GUARANTEED recall for max_hamming < n_bands (pigeonhole) —
property-tested against brute force.
"""

import numpy as np
import pytest

from cds_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    PHASH_SCHEMA,
    hamming_near_dup,
    phash64,
    phash_images,
)
from tests.media_codecs import encode_png, encode_ppm, synthetic_media


def _img(seed: int, h: int = 48, w: int = 64) -> np.ndarray:
    # Low-frequency content (what pHash keys on): smooth gradient +
    # seeded blobs, so distinct seeds give genuinely different spectra.
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (
        96
        + 64 * np.sin(2 * np.pi * xx / w * rng.integers(1, 4))
        + 48 * np.cos(2 * np.pi * yy / h * rng.integers(1, 5))
    )
    return np.clip(base + rng.normal(0, 4, size=(h, w)), 0, 255).astype(
        np.uint8
    )


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_phash_deterministic_and_format_independent():
    img = np.stack([_img(1)] * 3, axis=2)
    h_ppm = phash64(img)
    h_again = phash64(img)
    assert h_ppm == h_again
    # Same pixels through different lossless containers → same hash.
    from cds_etl_spark.operators.multimodal import decode_png, decode_ppm

    assert phash64(decode_ppm(encode_ppm(img))) == h_ppm
    assert phash64(decode_png(encode_png(img))) == h_ppm


def test_phash_brightness_invariance_and_noise_tolerance():
    img = _img(7).astype(np.int32)
    h0 = phash64(img.astype(np.uint8))
    brighter = np.clip(img + 30, 0, 255).astype(np.uint8)
    assert _hamming(h0, phash64(brighter)) <= 6
    rng = np.random.default_rng(0)
    noisy = np.clip(img + rng.integers(-3, 4, img.shape), 0, 255).astype(
        np.uint8
    )
    assert _hamming(h0, phash64(noisy)) <= 6


def test_phash_separates_unrelated_images():
    hashes = [phash64(_img(s)) for s in range(2, 12)]
    dists = [
        _hamming(a, b)
        for i, a in enumerate(hashes)
        for b in hashes[i + 1 :]
    ]
    # Unrelated low-frequency spectra: comfortably past any dedup
    # threshold (<=6 above); median should sit near 32.
    assert min(dists) > 8


def test_phash_images_dataframe(spark, tmp_path):
    media = synthetic_media(spark, n=24, partitions=4)
    sigs = phash_images(media)
    assert sigs.schema == PHASH_SCHEMA
    rows = {r["media_id"]: r["phash"] for r in sigs.collect()}
    # Only image rows hashed; deterministic across re-runs.
    kinds = {r["media_id"]: r["kind"] for r in media.collect()}
    assert set(rows) == {m for m, k in kinds.items() if k == "image"}
    again = {r["media_id"]: r["phash"] for r in phash_images(media).collect()}
    assert rows == again


def test_hamming_near_dup_pigeonhole_guarantee(spark):
    # Brute-force vs banded join on a planted signature set: every
    # pair within max_hamming MUST surface (pigeonhole recall), and
    # nothing beyond the threshold may.
    rng = np.random.default_rng(42)
    base = [int(rng.integers(-(2**63), 2**63 - 1)) for _ in range(30)]
    sigs = []
    for i, h in enumerate(base):
        sigs.append((i * 10, h))
        # Planted near-dup: flip <=3 random bits.
        flipped = h
        for b in rng.choice(64, size=int(rng.integers(0, 4)), replace=False):
            flipped ^= 1 << int(b)
        flipped = int(np.int64(np.uint64(flipped & 0xFFFFFFFFFFFFFFFF)))
        sigs.append((i * 10 + 1, flipped))
    df = spark.createDataFrame(sigs, ["media_id", "phash"])
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup(df, max_hamming=3).collect()
    }
    expect = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            d = _hamming(sigs[i][1], sigs[j][1])
            if d <= 3:
                a, b = sorted((sigs[i][0], sigs[j][0]))
                expect.add((a, b, d))
    assert got == expect
    assert expect  # the plant produced at least some pairs


def test_phash_end_to_end_near_dup(spark):
    # Real codec path: original + noisy copy as PPM rows → the pair is
    # found; unrelated images are not paired.
    rng = np.random.default_rng(5)
    rows = []
    for i in range(6):
        img = np.stack([_img(i + 20)] * 3, axis=2)
        rows.append((i, "image", bytearray(encode_ppm(img)),
                     ("ppm", img.shape[1], img.shape[0], 0, 1)))
        if i == 0:
            noisy = np.clip(
                img.astype(np.int32) + rng.integers(-2, 3, img.shape), 0, 255
            ).astype(np.uint8)
            rows.append((100, "image", bytearray(encode_ppm(noisy)),
                         ("ppm", img.shape[1], img.shape[0], 0, 1)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = hamming_near_dup(phash_images(media), max_hamming=6).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 100)}


def test_bands_for_rejects_guarantee_breaking_distance(spark):
    from cds_etl_spark.operators.multimodal import _bands_for

    assert _bands_for(3) == 4 and _bands_for(15) == 16
    with pytest.raises(ValueError, match="pigeonhole"):
        _bands_for(16)
    # The join-level entry points inherit the guard.
    sigs = spark.createDataFrame([(1, 7)], ["media_id", "phash"])
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dup(sigs, max_hamming=16)


def test_phash_index_build_append_probe(spark, tmp_path):
    # In-memory banded join and persisted-index probe must agree, and
    # append must extend the standing index.
    rng = np.random.default_rng(9)
    sigs1 = [(i, int(rng.integers(-(2**63), 2**63 - 1))) for i in range(20)]
    df1 = spark.createDataFrame(sigs1, ["media_id", "phash"])
    from cds_etl_spark.operators.multimodal import (
        build_phash_index,
        probe_phash_index,
    )

    idx = str(tmp_path / "phidx")
    build_phash_index(df1, idx)
    # A probe batch: one planted near-dup of id 0, one exact dup of id
    # 3, one unrelated.
    near = sigs1[0][1] ^ (1 << 17) ^ (1 << 42)
    batch = spark.createDataFrame(
        [(100, int(np.int64(np.uint64(near & 0xFFFFFFFFFFFFFFFF)))),
         (101, sigs1[3][1]),
         (102, int(rng.integers(-(2**63), 2**63 - 1)))],
        ["media_id", "phash"],
    )
    pairs = {
        (r["new_id"], r["index_id"], r["hamming"])
        for r in probe_phash_index(spark, batch, idx, max_hamming=3).collect()
    }
    assert (100, 0, 2) in pairs and (101, 3, 0) in pairs
    assert all(p[0] != 102 for p in pairs)
    # Append the batch; a re-probe of the near-dup now also matches the
    # appended row itself (hamming 0).
    build_phash_index(batch, idx, mode="append")
    re = probe_phash_index(spark, batch.limit(1), idx, max_hamming=3)
    got = {(r["new_id"], r["index_id"]) for r in re.collect()}
    assert (100, 100) in got and (100, 0) in got


def test_stream_media_ingest_with_index(spark, tmp_path):
    """Continuous image ingest: within-batch perceptual dup collapses,
    cross-batch dup is dropped by the INDEX probe (no in-memory
    state), blanks are gated, and the index accumulates signatures."""
    from cds_etl_spark.streaming.ops import stream_media_ingest_with_index

    rng = np.random.default_rng(3)

    def row(mid, img):
        return (mid, "image", bytearray(encode_ppm(img)),
                ("ppm", img.shape[1], img.shape[0], 0, 1))

    base = {s: np.stack([_img(s + 50)] * 3, axis=2) for s in range(3)}

    def noisy(img):
        return np.clip(
            img.astype(np.int32) + rng.integers(-2, 3, img.shape), 0, 255
        ).astype(np.uint8)

    blank = np.full((32, 32, 3), 128, dtype=np.uint8)
    b1 = spark.createDataFrame(
        [row(1, base[0]), row(2, noisy(base[0])),  # within-batch dup pair
         row(3, base[1]), row(4, blank)],
        MEDIA_SCHEMA,
    )
    b2 = spark.createDataFrame(
        [row(11, noisy(base[0])),  # cross-batch dup of 1 (via index)
         row(12, base[2])],        # genuinely new
        MEDIA_SCHEMA,
    )
    src = str(tmp_path / "media_inbox")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(MEDIA_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = str(tmp_path / "media_out")
    idx = str(tmp_path / "media_idx")
    stream_media_ingest_with_index(
        stream, idx, out, str(tmp_path / "media_ckpt"), max_hamming=6
    )
    kept = {r["media_id"] for r in spark.read.parquet(out).collect()}
    # 2 lost within-batch, 4 gated as blank, 11 lost to the index.
    assert kept == {1, 3, 12}, kept
    indexed = {r["media_id"] for r in spark.read.parquet(idx).collect()}
    assert indexed == {1, 3, 12}, indexed
    # r14: the loop's stats must describe ITS probe banding
    # (max_hamming=6 -> _bands_for(6)), so the hot-band guard is
    # armable in-stream instead of warning 'stats unusable' per batch.
    from cds_etl_spark.operators.multimodal import _bands_for

    stats = spark.read.parquet(f"{idx}/_band_stats")
    assert stats.select("n_bands").distinct().collect()[0][0] == _bands_for(6)


def test_compact_phash_index_equivalence(spark, tmp_path):
    """Double-append then compact: row count collapses, probe results
    are identical against original and compacted index."""
    from cds_etl_spark.operators.multimodal import (
        build_phash_index,
        compact_phash_index,
        probe_phash_index,
    )

    rng = np.random.default_rng(13)
    sigs = spark.createDataFrame(
        [(i, int(rng.integers(-(2**63), 2**63 - 1))) for i in range(25)],
        ["media_id", "phash"],
    )
    idx = str(tmp_path / "cidx")
    build_phash_index(sigs, idx)
    build_phash_index(sigs, idx, mode="append")  # crash-replay shape
    assert spark.read.parquet(idx).count() == 50
    out = str(tmp_path / "cidx2")
    compact_phash_index(spark, idx, out)
    assert spark.read.parquet(out).count() == 25
    batch = sigs.limit(5)
    a = {tuple(r) for r in probe_phash_index(spark, batch, idx).collect()}
    b = {tuple(r) for r in probe_phash_index(spark, batch, out).collect()}
    assert a == b and len(a) >= 5


def test_probe_phash_hot_band_guard(spark, tmp_path):
    """r12 index skew audit, pHash flavor: k copies of one template
    hash share every (band, chunk) key; max_band_entries drops those
    index bands while distinct near-dups keep matching."""
    from cds_etl_spark.operators.multimodal import (
        build_phash_index,
        probe_phash_index,
    )

    rng = np.random.default_rng(4)
    hot = int(rng.integers(-(2**63), 2**63 - 1))
    sigs = [(i, hot) for i in range(12)] + [
        (100 + i, int(rng.integers(-(2**63), 2**63 - 1))) for i in range(6)
    ]
    idx = str(tmp_path / "hotph")
    build_phash_index(spark.createDataFrame(sigs, ["media_id", "phash"]), idx)
    near = sigs[12][1] ^ (1 << 5)  # 1 bit off media 100
    batch = spark.createDataFrame(
        [(900, hot), (901, int(np.int64(np.uint64(near & 0xFFFFFFFFFFFFFFFF))))],
        ["media_id", "phash"],
    )
    uncapped = {
        (r["new_id"], r["index_id"])
        for r in probe_phash_index(spark, batch, idx, max_hamming=3).collect()
    }
    assert sum(1 for p in uncapped if p[0] == 900) == 12
    assert (901, 100) in uncapped
    capped = {
        (r["new_id"], r["index_id"])
        for r in probe_phash_index(
            spark, batch, idx, max_hamming=3, max_band_entries=6
        ).collect()
    }
    assert not any(p[0] == 900 for p in capped)
    assert (901, 100) in capped


def test_phash_incremental_band_stats_equal_full_recompute(spark, tmp_path):
    """r14 (VERDICT r13 task 4), pHash side: `mode="append"` folds the
    delta's (band, chunk) counts into the _band_counts sidecar by
    addition — no index rescan, no media_id dropDuplicates shuffle.
    Exactness gate vs a from-scratch recompute after two id-disjoint
    appends (one stacking more copies of a hot template hash); an
    n_bands-mismatched sidecar falls back to the full path."""
    from cds_etl_spark.operators.multimodal import (
        build_phash_index,
        write_phash_band_stats,
    )

    rng = np.random.default_rng(11)
    tpl_hash = int(rng.integers(-(2**63), 2**63 - 1))

    def sigs(ids, tpl_every=4):
        return spark.createDataFrame(
            [
                (i, tpl_hash)
                if i % tpl_every == 0
                else (i, int(rng.integers(-(2**63), 2**63 - 1)))
                for i in ids
            ],
            ["media_id", "phash"],
        )

    idx = str(tmp_path / "phinc")
    build_phash_index(sigs(range(16)), idx)
    build_phash_index(sigs(range(100, 110)), idx, mode="append")
    build_phash_index(sigs(range(200, 224)), idx, mode="append")

    def rows(p):
        return sorted(tuple(r) for r in spark.read.parquet(p).collect())

    inc_stats = rows(f"{idx}/_band_stats")
    inc_counts = rows(f"{idx}/_band_counts")
    write_phash_band_stats(spark, idx)  # full recompute, same index
    assert inc_stats == rows(f"{idx}/_band_stats")
    assert inc_counts == rows(f"{idx}/_band_counts")

    # Sidecar describing a DIFFERENT banding: the incremental merge
    # must refuse (returns False) and the build fall back to a full
    # recompute at the requested banding.
    idx2 = str(tmp_path / "phinc2")
    build_phash_index(sigs(range(16)), idx2, stats_n_bands=4)
    build_phash_index(
        sigs(range(100, 110)), idx2, mode="append", stats_n_bands=6
    )
    stats2 = spark.read.parquet(f"{idx2}/_band_stats")
    assert stats2.select("n_bands").distinct().collect()[0][0] == 6
    got = rows(f"{idx2}/_band_stats")
    write_phash_band_stats(spark, idx2, n_bands=6)
    assert got == rows(f"{idx2}/_band_stats")


def test_phash_band_stats_self_arming(spark, tmp_path):
    """r13 self-arming guard, pHash side: build writes a _band_stats
    histogram (hidden from the index table's own parquet discovery);
    the default "auto" probe is uncapped and warning-free on a healthy
    index, auto-caps with a RuntimeWarning (== explicit cap) when a
    (band, chunk) key exceeds the bound, and degrades to legacy
    uncapped output with a warning when stats are absent or describe a
    different banding."""
    import warnings

    import pytest

    from cds_etl_spark.operators.multimodal import (
        build_phash_index,
        probe_phash_index,
    )

    rng = np.random.default_rng(7)
    tpl_hash = int(rng.integers(-(2**63), 2**63 - 1))
    rows = [(i, tpl_hash) for i in range(10)] + [
        (100 + i, int(rng.integers(-(2**63), 2**63 - 1))) for i in range(8)
    ]
    sigs = spark.createDataFrame(rows, ["media_id", "phash"])
    idx = str(tmp_path / "armphash")
    build_phash_index(sigs, idx)

    # Stats are invisible to the index table read (underscore dir).
    assert spark.read.parquet(idx).count() == 18
    stats = spark.read.parquet(f"{idx}/_band_stats")
    assert stats.groupBy().max("max_occ").collect()[0][0] == 10
    assert stats.select("n_bands").distinct().collect()[0][0] == 4

    batch = spark.createDataFrame(
        [(900, tpl_hash), (901, tpl_hash ^ 1)], ["media_id", "phash"]
    )

    def pairs(**kw):
        return {
            (r["new_id"], r["index_id"])
            for r in probe_phash_index(
                spark, batch, idx, max_hamming=3, **kw
            ).collect()
        }

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        auto_healthy = pairs()
    assert auto_healthy == pairs(max_band_entries=None)
    assert sum(1 for p in auto_healthy if p[0] == 900) == 10

    with pytest.warns(RuntimeWarning, match="auto-capping at 5"):
        auto_hot = pairs(band_occupancy_bound=5)
    assert auto_hot == pairs(max_band_entries=5)
    assert not any(p[0] == 900 for p in auto_hot)

    # Banding mismatch: stats describe n_bands=4, probe uses 8.
    with pytest.warns(RuntimeWarning, match="stats unusable"):
        mism = {
            (r["new_id"], r["index_id"])
            for r in probe_phash_index(
                spark, batch, idx, max_hamming=7, band_occupancy_bound=5
            ).collect()
        }
    assert sum(1 for p in mism if p[0] == 900) == 10  # legacy uncapped

    # Stats-less legacy index.
    legacy = str(tmp_path / "legacyphash")
    build_phash_index(sigs, legacy, band_stats=False)
    import os

    assert not os.path.exists(f"{legacy}/_band_stats")
    with pytest.warns(RuntimeWarning, match="no _band_stats"):
        got = {
            (r["new_id"], r["index_id"])
            for r in probe_phash_index(
                spark, batch, legacy, band_occupancy_bound=5
            ).collect()
        }
    assert got == auto_healthy
