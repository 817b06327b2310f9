"""Media decode and perceptual-hash near-duplicate detection over Spark.

Media is carried as an opaque ``binary`` column plus a typed metadata
struct (``MEDIA_SCHEMA``): Spark never interprets the bytes; Parquet
stores them page-compressed; all decode/compute happens in
Arrow-batched Python (``mapInPandas``), executor-side, with batch size
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a
partition of large blobs never materializes as one giant pandas frame.

The reference has no media handling at all (its closest surface is
opaque file rows with ``file_size``/``md5sum`` metadata,
3-Model-Files/cds-model.yml:144-162); this module is part of the
declared LLM-pipeline extension surface, and its one entry point is
the continuous image ingest ``streaming/ops.stream_media_ingest_with_index``.

Surface:

* ``_decode_bytes`` — one dispatch on ``meta.format``. Formats whose
  containers need only numpy + the stdlib decode for real: binary
  PPM/PGM (``decode_ppm``), PCM16 WAV (``decode_wav``), PNG
  (``decode_png`` — zlib inflate + the five scanline filters, color
  types 0/2/4/6 at bit depth 8, non-interlaced) and JPEG
  (``operators/jpeg.py`` — baseline, progressive and lossless T.81).
  The mp4 container parses for real (``operators/mp4.py``); H.264
  entropy decode has one gate and runs through PyAV when it is
  installed. Any other format raises ``no codec for format=…``.
* ``phash64`` / ``phash_images`` — a 64-bit DCT perceptual hash per
  image row.
* ``hamming_near_dup`` — within-batch near-duplicate pairs by a
  pigeonhole-banded Hamming join.
* The persisted pHash index: ``build_phash_index`` (overwrite or
  append, with its band-occupancy stats), ``probe_phash_index`` and
  the maintenance pass ``compact_phash_index``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Typed metadata carried alongside the opaque bytes. A media table is
# (media_id long, kind string, content binary, meta MEDIA_META).
MEDIA_META = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


# ---------------------------------------------------------------------------
# Pure-numpy decoders: binary PPM/PGM (netpbm P6/P5), PCM16 WAV, PNG.
# ---------------------------------------------------------------------------


def _pnm_tokens(buf: bytes, count: int) -> tuple[list[int], int]:
    """Read `count` whitespace-separated integer header tokens,
    skipping ``#`` comments; returns (tokens, offset past the single
    whitespace byte that terminates the header)."""
    toks: list[int] = []
    i, n = 0, len(buf)
    while len(toks) < count:
        while i < n and buf[i : i + 1].isspace():
            i += 1
        if i < n and buf[i] == ord("#"):
            while i < n and buf[i] != ord("\n"):
                i += 1
            continue
        j = i
        while j < n and not buf[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated netpbm header")
        toks.append(int(buf[i:j]))
        i = j
    return toks, i + 1  # exactly one whitespace byte after maxval


def decode_ppm(content: bytes) -> np.ndarray:
    """Binary netpbm decode: P6 → (h, w, 3) uint8, P5 → (h, w) uint8."""
    magic = content[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary PPM/PGM: magic={magic!r}")
    (w, h, maxval), off = _pnm_tokens(content[2:], 3)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic == b"P6" else 1
    pixels = np.frombuffer(content, dtype=np.uint8, count=w * h * channels, offset=2 + off)
    return pixels.reshape((h, w, 3) if channels == 3 else (h, w)).copy()


def decode_wav(content: bytes) -> tuple[np.ndarray, int]:
    """PCM16 RIFF/WAVE decode → ((n_samples, channels) int16, rate).
    Walks the chunk list, so extra chunks (LIST/INFO...) are fine."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack_from("<I", content, pos + 4)[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt_tag != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (tag={fmt_tag}, bits={bits})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return samples.reshape(-1, channels).copy(), int(rate)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png(content: bytes) -> np.ndarray:
    """Pure numpy+zlib PNG decode: 8-bit gray/RGB/gray-alpha/RGBA,
    non-interlaced. Returns (h, w) for grayscale, (h, w, ch) otherwise.

    PNG is a zlib-deflate stream of filtered scanlines inside a CRC'd
    chunk list — no external codec needed: walk chunks, concatenate
    IDAT, inflate, then undo the per-row filter (None/Sub/Up/Average/
    Paeth). Up is fully vectorized; Sub is a per-channel running sum
    mod 256; Average/Paeth recurse on the previous pixel so they run
    per-pixel along the row (rows are short; the heavy lifting —
    inflate — is C either way)."""
    import struct
    import zlib

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        body = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, "
            f"interlace={interlace}); only 8-bit non-interlaced 0/2/4/6"
        )
    ch = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data has wrong length")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, row = int(filters[y]), rows[y]
        if f == 0:
            rec = row
        elif f == 1:  # Sub: running sum per channel position
            rec = row.reshape(w, ch).cumsum(axis=0).reshape(stride) % 256
        elif f == 2:  # Up
            rec = (row + prev) % 256
        elif f == 3:  # Average: the left-dependency is per PIXEL, so
            # iterate pixel columns and vectorize across the channel
            # bytes (ch-wide numpy ops; w iterations, not w*ch).
            r2, p2 = row.reshape(w, ch), prev.reshape(w, ch)
            rec2 = np.empty((w, ch), dtype=np.int32)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(w):
                left = (r2[x] + ((left + p2[x]) >> 1)) % 256
                rec2[x] = left
            rec = rec2.reshape(stride)
        elif f == 4:  # Paeth: same per-pixel recurrence, channel-vectorized
            r2, p2 = row.reshape(w, ch), prev.reshape(w, ch)
            rec2 = np.empty((w, ch), dtype=np.int32)
            a = np.zeros(ch, dtype=np.int32)  # reconstructed left
            c = np.zeros(ch, dtype=np.int32)  # reconstructed upper-left
            for x in range(w):
                b = p2[x]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                a = (r2[x] + pred) % 256
                rec2[x] = a
                c = b
            rec = rec2.reshape(stride)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = rec
        prev = out[y]
    pixels = out.astype(np.uint8)
    return pixels.reshape(h, w) if ch == 1 else pixels.reshape(h, w, ch)


def _decode_video_av(content: bytes) -> "list[np.ndarray] | None":
    """Decode a real-codec (H.264/H.265/…) video via PyAV when it is
    importable, else return None (the caller falls back to its gate).
    Returns every frame as an (H, W, 3) uint8 RGB array. PyAV is an
    optional dependency, so this decode path is import-gated."""
    try:
        import av  # PyAV — optional, not in the default environment
    except ImportError:
        return None
    import io

    with av.open(io.BytesIO(content)) as container:
        stream = container.streams.video[0]
        return [
            frame.to_ndarray(format="rgb24")
            for frame in container.decode(stream)
        ]


def _video_codec_gate(codec: str) -> NotImplementedError:
    """The one gate for compressed video payloads (H.264 and any other
    non-raw codec): entropy decode needs an external library."""
    return NotImplementedError(
        f"video codec {codec!r} needs an external decoder "
        "(install PyAV, import name 'av', to enable it)"
    )


def _decode_bytes(content: bytes, fmt: str) -> np.ndarray:
    """Decode media bytes to a pixel/sample array.

    ``ppm``/``pgm``, ``png``, ``jpeg``, and ``wav`` decode for real
    (pure numpy+stdlib — jpeg via operators/jpeg.py).
    ``fake`` is raw uint8 (video frame payloads). ``mp4`` parses its
    container for real (operators/mp4.py): raw-codec and zero-sample
    tracks return their joined sample bytes, and compressed samples
    decode through PyAV when it is installed. H.264 has one gate: a
    bare ``h264``/``avc`` stream, or compressed mp4 samples without
    PyAV, raise ``NotImplementedError`` naming the codec and PyAV,
    rather than returning something silently wrong."""
    if fmt in ("ppm", "pgm"):
        return decode_ppm(bytes(content))
    if fmt == "png":
        return decode_png(bytes(content))
    if fmt in ("jpeg", "jpg"):
        from cds_etl_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(bytes(content))
    if fmt == "wav":
        samples, _ = decode_wav(bytes(content))
        return samples
    if fmt == "fake":
        return np.frombuffer(content, dtype=np.uint8)
    if fmt in ("h264", "avc"):
        raise _video_codec_gate(fmt)
    if fmt == "mp4":
        from cds_etl_spark.operators.mp4 import extract_samples, probe_mp4

        info = probe_mp4(bytes(content))
        if info["codec"] == "raw" or info["n_samples"] == 0:
            return np.frombuffer(
                b"".join(extract_samples(bytes(content))), dtype=np.uint8
            )
        frames = _decode_video_av(bytes(content))
        if frames is not None:
            return np.stack(frames) if frames else np.zeros((0,), np.uint8)
        raise _video_codec_gate(info["codec"])
    raise NotImplementedError(f"no codec for format={fmt!r}")


# ---------------------------------------------------------------------------
# Perceptual image hashing (pHash) and the persisted pHash index.
# ---------------------------------------------------------------------------


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n×n), float64. Row 0 is the DC
    basis scaled by sqrt(1/n), rows 1.. by sqrt(2/n) — the standard
    type-II normalization, so ``D @ A @ D.T`` is the 2-D DCT of A."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    d = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    d[0] *= np.sqrt(0.5)
    return d


_DCT32 = _dct_matrix(32)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash of an image array (H×W or H×W×C uint8).

    The classic pHash recipe: grayscale → 32×32 downsample
    (nearest-neighbor index sampling) →
    2-D DCT-II → keep the top-left 8×8 low-frequency block → each bit
    is coeff > median of the 63 AC coefficients (DC excluded: it is
    plain brightness, and including it would make the hash flip under
    uniform exposure changes). Near-duplicate images — recompression,
    mild noise, brightness shifts — land within a few bits' Hamming
    distance; unrelated images differ in ~32.

    Pure numpy and deterministic: the same pixels yield the same hash
    on every executor, so the hash is a join key, not a heuristic.
    Returned as a signed int64 (Spark BIGINT) with the bit pattern of
    the uint64 hash."""
    a = np.asarray(pixels, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = a[np.ix_(ys, xs)]
    coeffs = (_DCT32 @ small @ _DCT32.T)[:8, :8].ravel()
    ac = coeffs[1:]
    # Degenerate (solid/blank) image: the AC spectrum is zero up to
    # float noise (~1e-11 for a constant plane). Without this gate the
    # noise-vs-noise median comparison sets an arbitrary half of the
    # bits — two blank frames would hash far apart AND unpredictably.
    # Force the canonical all-zero hash so blanks are detectable.
    if np.max(np.abs(ac)) < 1e-6:
        return 0
    bits = coeffs > np.median(ac)
    bits[0] = False  # DC slot always 0: brightness-invariant
    packed = np.uint64(0)
    for b in bits:
        packed = np.uint64(packed << np.uint64(1)) | np.uint64(bool(b))
    return int(packed.astype(np.int64))


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def phash_images(df: DataFrame) -> DataFrame:
    """Perceptual hash per image row: decode → ``phash64``. Arrow-
    batched ``mapInPandas`` over a (media_id, content, format)
    projection — column-pruned at the scan, no shuffle; at 100 TB of
    images the cost is the decode itself and the output is 16 bytes a
    row. Non-image rows are filtered out plan-side (decode never sees
    them)."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                arr = _decode_bytes(row["content"], row["fmt"])
                out.append(
                    {"media_id": row["media_id"], "phash": phash64(arr)}
                )
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    pruned = df.filter(F.col("kind") == "image").select(
        "media_id", "content", F.col("meta.format").alias("fmt")
    )
    return pruned.mapInPandas(_hash, schema=PHASH_SCHEMA)


def _bands_for(max_hamming: int) -> int:
    """Smallest power-of-two divisor of 64 strictly greater than
    ``max_hamming``: the pigeonhole recall guarantee needs
    max_hamming < n_bands. Bands are capped at 16 (4-bit chunks —
    beyond distance 15 banding stops being selective and a coarser
    strategy is needed anyway), and rather than silently losing the
    recall guarantee past the cap, distances >= 16 are an error."""
    if max_hamming >= 16:
        raise ValueError(
            "max_hamming >= 16 breaks the pigeonhole recall guarantee"
            " (64-bit hashes band into at most 16 chunks); use a"
            " coarser signature or multi-probe strategy instead"
        )
    b = 1
    while b <= max_hamming:
        b *= 2
    return b


def _hash_chunks(hash_col: str, n_bands: int):
    """Array of (band, chunk) structs splitting a 64-bit hash column
    into ``n_bands`` contiguous chunks — the banding key shared by the
    in-memory near-dup join and the persisted-index probe (the chunks
    are DERIVED from the stored hash, so an index never materializes
    band rows)."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"shiftright({hash_col}, {i * width}) & {mask}").alias(
                    "chunk"
                ),
            )
            for i in range(n_bands)
        ]
    )


def hamming_near_dup(
    sigs: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs among 64-bit signatures by Hamming
    distance — the image twin of MinHash-LSH banding. The 64-bit hash
    splits into ``n_bands`` contiguous chunks; by pigeonhole, two
    hashes within ``max_hamming`` bits (max_hamming < n_bands) agree
    EXACTLY on at least one chunk, so the candidate set is a per-band
    equi-join on (band, chunk value) — never an all-pairs comparison.
    Candidates are then refined with an exact ``bit_count(a XOR b)``.

    Recall is GUARANTEED (pigeonhole, not probabilistic) when
    ``max_hamming < n_bands``; by default ``n_bands`` is chosen as the
    smallest power-of-two divisor of 64 exceeding ``max_hamming``, so
    the guarantee always holds (passing n_bands explicitly can trade
    recall for fewer/longer chunks). Precision comes from the exact
    refine.
    At corpus scale the shuffle carries (id, 16-byte hash) rows and
    the join keys are 16-bit chunks — skew-bounded because a chunk
    bucket holds only visually-similar low-frequency spectra.

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per pair."""
    n_bands = n_bands or _bands_for(max_hamming)
    chunks = _hash_chunks(hash_col, n_bands)
    banded = sigs.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"),
        F.explode(chunks).alias("b"),
    ).select("id", "h", F.col("b.band").alias("band"), F.col("b.chunk").alias("chunk"))
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.h").alias("ha"),
            F.col("r.h").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(ha ^ hb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _auto_phash_band_cap(
    spark, path: str, n_bands: int, bound: int
) -> int | None:
    """"auto" guard policy for the pHash probe: arm the cap only when
    the build-time stats exist, describe THIS banding, and show a
    (band, chunk) key above ``bound``; otherwise warn + legacy
    uncapped output (mirrors dedup._auto_band_cap, plus the banding
    match check the derived-key design makes necessary).

    Only the missing-path AnalysisException downgrades to the legacy
    warning (r14 ADVICE): IO/permission errors and corrupted stats
    re-raise instead of silently disabling the guard."""
    import warnings

    from pyspark.errors import AnalysisException

    from cds_etl_spark.operators.dedup import _is_missing_path

    try:
        row = (
            spark.read.parquet(f"{path}/_band_stats")
            .agg(
                F.max("max_occ").alias("m"),
                F.max("n_bands").alias("nb"),
            )
            .collect()[0]
        )
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        warnings.warn(
            f"probe_phash_index: no _band_stats at {path} — index "
            f"predates the r13 self-arming guard; probing UNCAPPED "
            f"(legacy output). Rebuild/compact with build_phash_index "
            f"or pass max_band_entries explicitly. "
            f"[{str(exc).splitlines()[0]}]",
            RuntimeWarning,
            stacklevel=3,
        )
        return None
    if row["nb"] != n_bands:
        warnings.warn(
            f"probe_phash_index: _band_stats describe n_bands="
            f"{row['nb']} but this probe bands into {n_bands} — "
            f"stats unusable, probing UNCAPPED (legacy output). "
            f"Refresh with write_phash_band_stats(..., n_bands="
            f"{n_bands}) or pass max_band_entries explicitly.",
            RuntimeWarning,
            stacklevel=3,
        )
        return None
    if row["m"] is not None and row["m"] > bound:
        warnings.warn(
            f"probe_phash_index: hottest (band, chunk) holds "
            f"{row['m']} index entries (> bound {bound}) — probe "
            f"output is quadratic in template duplication; "
            f"auto-capping at {bound}. Mega-cluster exact duplicates "
            f"belong to exact-hash dedup; see the collateral-recall "
            f"caveat in the probe docstring.",
            RuntimeWarning,
            stacklevel=3,
        )
        return bound
    return None


def _phash_band_counts(sigs: DataFrame, n_bands: int) -> DataFrame:
    """Exact per-(band, chunk) occupancy of a signature set — the
    mergeable intermediate both stats paths share (histogram buckets
    and per-bucket maxes are NOT mergeable across batches; per-key
    counts are, by plain addition)."""
    return (
        sigs.dropDuplicates(["media_id"])
        .select(F.explode(_hash_chunks("phash", n_bands)).alias("b"))
        .groupBy(F.col("b.band").alias("band"), F.col("b.chunk").alias("chunk"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _write_phash_stats(counts: DataFrame, path: str, n_bands: int) -> None:
    """Materialize merged counts, then overwrite both sidecars:
    ``_band_counts`` (per-key, the incremental-merge substrate) and
    ``_band_stats`` (the ~n_bands·20-row histogram the probe guard
    reads in one footer hit). localCheckpoint breaks lineage BEFORE
    the overwrite so a refresh may read the old counts as its own
    input without self-truncation."""
    counts = cut_lineage(counts)  # pin: corpus-scale (row per band key)
    (
        counts.withColumn("n_bands", F.lit(n_bands))
        .write.mode("overwrite")
        .parquet(f"{path}/_band_counts")
    )
    (
        counts.groupBy(
            "band", F.ceil(F.log2("n")).cast("int").alias("occ_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.max("n").alias("max_occ"),
        )
        .withColumn("n_bands", F.lit(n_bands))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/_band_stats")
    )


def write_phash_band_stats(
    spark, path: str, n_bands: int | None = None
) -> None:
    """(Re)compute the (band, chunk)-occupancy histogram for a
    persisted pHash index and overwrite ``{path}/_band_stats`` (the
    underscore prefix hides it from the index table's own parquet
    discovery, like ``_SUCCESS``): one row per (n_bands, band,
    ⌈log2 occupancy⌉ bucket) with key count and exact max occupancy.
    Banding keys are derived from the stored hashes, so stats are
    computed for a CONCRETE ``n_bands`` (default: the banding for the
    probe's default max_hamming=3) and record it — a probe with a
    different banding treats them as absent. Cost: one aggregate scan
    of the 16-byte-row index, the same class as any probe. Also
    persists the per-key ``_band_counts`` sidecar that lets
    ``append_phash_band_stats`` maintain these stats incrementally
    (r14): subsequent appends merge the delta's counts instead of
    rescanning the index."""
    n_bands = n_bands or _bands_for(3)
    counts = _phash_band_counts(spark.read.parquet(path), n_bands)
    _write_phash_stats(counts, path, n_bands)


def append_phash_band_stats(
    spark, path: str, delta_sigs: DataFrame, n_bands: int | None = None
) -> bool:
    """Incrementally fold an appended batch into the persisted stats
    (r14, VERDICT r13 task 4): per-key occupancies are mergeable by
    addition, so the update is delta-aggregate (batch-scale) ∪ old
    ``_band_counts`` (already one narrow row per key) → one sum — no
    index rescan, no media_id dropDuplicates shuffle, no explode of
    the standing index. Returns True when the incremental merge ran;
    False when no compatible ``_band_counts`` exists (legacy index or
    n_bands mismatch — caller should full-refresh instead).

    EXACTNESS CONTRACT: equal to a full recompute iff the delta's
    media_ids are disjoint from the index (what the ingest loop's
    probe + anti-join guarantees). A crash-replayed or overlapping
    append double-counts those ids — which can only OVER-arm the
    hot-band guard (safe direction); a compaction or
    ``write_phash_band_stats`` refresh restores exactness."""
    from pyspark.errors import AnalysisException

    from cds_etl_spark.operators.dedup import _is_missing_path

    n_bands = n_bands or _bands_for(3)
    try:
        old = spark.read.parquet(f"{path}/_band_counts")
        old_nb = old.select(F.max("n_bands")).collect()[0][0]
    except AnalysisException as exc:
        if not _is_missing_path(exc):
            raise
        return False
    if old_nb != n_bands:
        return False
    delta = _phash_band_counts(delta_sigs, n_bands)
    merged = (
        old.select("band", "chunk", "n")
        .unionByName(delta)
        .groupBy("band", "chunk")
        .agg(F.sum("n").alias("n"))
    )
    _write_phash_stats(merged, path, n_bands)
    return True


def build_phash_index(
    sigs: DataFrame,
    path: str,
    mode: str = "overwrite",
    band_stats: bool = True,
    stats_n_bands: int | None = None,
) -> None:
    """Persist a pHash dedup index: ONE parquet table of
    (media_id, phash) — 16 bytes a row. Unlike the MinHash index
    (which must store band rows because recomputing them needs the
    original text), the Hamming banding keys are derived from the
    stored hash itself at probe time with integer shifts, so the index
    stores nothing but the signature: the decode — the only expensive
    step — is paid once at ingest, and the standing index for a
    billion images is ~16 GB of parquet. ``mode="append"`` is the
    continuous-ingest path.

    ``band_stats=True`` (default) refreshes the tiny ``_band_stats``
    occupancy histogram from the FULL on-disk index after the write,
    arming ``probe_phash_index``'s default "auto" hot-band guard
    (same r13 self-arming contract as ``build_minhash_index``);
    ``stats_n_bands`` pins the banding the stats describe (default:
    the max_hamming=3 banding). ``band_stats=False`` skips the extra
    scan — refresh on the compaction cadence instead.

    r14: on ``mode="append"`` against an index whose counts sidecar
    exists, the stats refresh is INCREMENTAL (delta-counts merge,
    ``append_phash_band_stats``) instead of a full index rescan —
    exact for id-disjoint appends, the ingest-loop invariant."""
    spark = sigs.sparkSession
    if mode == "append" and band_stats:
        # The delta must be materialized pre-write: after the append
        # lands, re-reading ``sigs`` lazily from source is fine, but
        # a plan reading from ``path`` itself would double-count.
        sigs = cut_lineage(  # pin: corpus-scale delta
            sigs.select("media_id", "phash")
        )
        sigs.write.mode("append").parquet(path)
        if not append_phash_band_stats(spark, path, sigs, stats_n_bands):
            write_phash_band_stats(spark, path, stats_n_bands)
        return
    sigs.select("media_id", "phash").write.mode(mode).parquet(path)
    if band_stats:
        write_phash_band_stats(spark, path, stats_n_bands)


def probe_phash_index(
    spark,
    new_sigs: DataFrame,
    path: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
    broadcast_batch: bool = True,
    max_band_entries: int | str | None = "auto",
    band_occupancy_bound: int | None = None,
) -> DataFrame:
    """Probe a batch of signatures against a persisted pHash index:
    returns (new_id, index_id, hamming) pairs within ``max_hamming``
    bits. Recall is pigeonhole-guaranteed for max_hamming < n_bands.

    ``max_band_entries``: hot-band guard (r12 index skew audit, same
    hazard as the MinHash probe): k copies of one template image
    share every (band, chunk) key, so probe output is quadratic in
    the duplication rate. With a cap, index-side band keys above it
    are excluded — mega-cluster exact duplicates belong to exact-hash
    dedup, not the Hamming probe. ``"auto"`` (default, r13
    self-arming): read the build-time ``_band_stats`` histogram; if
    its banding matches this probe's ``n_bands`` and some key exceeds
    ``band_occupancy_bound`` (default
    ``dedup.DEFAULT_BAND_OCCUPANCY_BOUND``), warn and cap at the
    bound; stats absent or banding-mismatched warns and runs uncapped
    (legacy output). ``None`` = never cap; an int = explicit cap.

    CAVEAT (collateral recall, r12 ADVICE): the guard drops ALL
    candidates in a hot (band, chunk), not just template pairs — a
    genuine near-duplicate whose ONLY matching chunk is hot loses
    that candidate AND, unlike MinHash banding, the pigeonhole
    guarantee (≤ max_hamming errors spread over n_bands chunks) no
    longer covers it. When hot chunks can be populated by
    NON-identical content (e.g. images sharing a letterbox border
    that dominates one chunk), raise n_bands via a larger
    max_hamming or raise the cap.

    Scale shape: the index scan reads 16-byte rows and explodes each
    into ``n_bands`` integer chunk keys in the scan stage; the (small)
    arriving batch broadcasts, so the probe is a map-side join over
    the index — no index shuffle, no state on any heap. The
    dropDuplicates on the index side is the replay guard: a streaming
    ingest that crash-replays an epoch appends identical rows, which
    must not duplicate probe pairs."""
    from cds_etl_spark.operators.dedup import DEFAULT_BAND_OCCUPANCY_BOUND

    n_bands = n_bands or _bands_for(max_hamming)
    if band_occupancy_bound is None:
        band_occupancy_bound = DEFAULT_BAND_OCCUPANCY_BOUND
    if isinstance(max_band_entries, str) and max_band_entries != "auto":
        # A typo'd string would otherwise flow into the `_n > <str>`
        # filter where Spark's numeric cast yields null → empty hot
        # set → silently uncapped probe (r14 ADVICE).
        raise ValueError(
            f"max_band_entries must be an int, None, or the exact "
            f"string 'auto'; got {max_band_entries!r}"
        )
    if max_band_entries == "auto":
        max_band_entries = _auto_phash_band_cap(
            spark, path, n_bands, band_occupancy_bound
        )
    idx = (
        spark.read.parquet(path)
        .dropDuplicates(["media_id"])
        .select(
            F.col("media_id").alias("_iid"), F.col("phash").alias("_ih")
        )
    )
    banded_idx = idx.select(
        "_iid", "_ih", F.explode(_hash_chunks("_ih", n_bands)).alias("b")
    ).select("_iid", "_ih", "b.band", "b.chunk")
    if max_band_entries is not None:
        # Unhinted anti-join (r12 broadcast-audit rule): the hot-band
        # list is corpus-proportional in the worst case.
        hot = (
            banded_idx.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_entries)
            .select("band", "chunk")
        )
        banded_idx = banded_idx.join(hot, ["band", "chunk"], "left_anti")
    new = new_sigs.select(
        F.col("media_id").alias("_nid"), F.col("phash").alias("_nh")
    )
    banded_new = new.select(
        "_nid", "_nh", F.explode(_hash_chunks("_nh", n_bands)).alias("b")
    ).select("_nid", "_nh", "b.band", "b.chunk")
    if broadcast_batch:
        banded_new = F.broadcast(banded_new)
    cand = (
        banded_idx.join(banded_new, ["band", "chunk"])
        .select("_nid", "_iid", "_nh", "_ih")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(_nh ^ _ih)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("_nid").alias("new_id"),
            F.col("_iid").alias("index_id"),
            "hamming",
        )
    )


def compact_phash_index(spark, path: str, out_path: str) -> None:
    """Maintenance pass for an append-only pHash index: rewrite
    deduplicated (one row per media_id) to ``out_path`` — probe
    results unchanged (probe already dedups through its replay
    guard), future probes stop re-paying the guard and the
    small-file listing tax. New-directory write; the caller owns the
    atomic swap (the sources/compact.py contract)."""
    (
        spark.read.parquet(path)
        .dropDuplicates(["media_id"])
        .write.mode("overwrite")
        .parquet(out_path)
    )
    # Compaction is the stats-refresh point for ingest loops that
    # append with band_stats=False.
    write_phash_band_stats(spark, out_path)
