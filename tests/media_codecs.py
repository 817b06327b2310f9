"""Fixture encoders for the media tests.

The package decodes media (``operators/multimodal.py``, ``jpeg.py``,
``mp4.py``) but never encodes it: these writers exist only to build
test inputs. Each is the inverse of a package decoder and emits a
genuine container that any other decoder would accept:

* ``encode_ppm`` / ``encode_png`` / ``encode_wav`` — binary netpbm,
  8-bit non-interlaced PNG (filter 0 scanlines) and PCM16 WAV;
* ``encode_jpeg`` (baseline), ``encode_jpeg_progressive`` (SOF2,
  spectral selection + successive approximation per T.81 Annex G, the
  libjpeg default scan script) and ``encode_jpeg_lossless`` (SOF3,
  Annex H spatial DPCM): quality-scaled Annex K quantization (IJG
  scaling), 4:4:4 or 4:2:0 subsampling, the Annex K typical Huffman
  tables and byte stuffing;
* ``encode_mp4`` — a minimal single-track ISO-BMFF file;
* ``synthetic_media`` — a deterministic ``MEDIA_SCHEMA`` table whose
  rows carry all of the above.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from cds_etl_spark.operators.jpeg import ZIGZAG, _C, _build_codes, _ll_predict
from cds_etl_spark.operators.multimodal import _PNG_SIG, MEDIA_SCHEMA

# --------------------------------------------------------------------------
# PPM, PNG and WAV
# --------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """Inverse of :func:`decode_ppm`: (h, w, 3) → P6, (h, w) → P5."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
    elif arr.ndim == 2:
        magic = b"P5"
    else:
        raise ValueError(f"expected (h,w,3) or (h,w), got {arr.shape}")
    h, w = arr.shape[0], arr.shape[1]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Inverse of :func:`decode_wav`: int16 (n,) or (n, ch) → PCM16 WAV."""
    import struct

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    byte_rate = rate * channels * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate, channels * 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_png(arr: np.ndarray) -> bytes:
    """Inverse of :func:`decode_png`: (h, w) → gray, (h, w, 2) →
    gray+alpha, (h, w, 3) → RGB, (h, w, 4) → RGBA; 8-bit,
    non-interlaced, filter 0 scanlines (decoders must accept any
    filter, encoders may pick the simplest)."""
    import struct
    import zlib

    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
        color = {2: 4, 3: 2, 4: 6}[arr.shape[2]]
        ch = arr.shape[2]
    else:
        raise ValueError(f"expected (h,w[,2|3|4]) uint8, got {arr.shape}")
    h, w = arr.shape[0], arr.shape[1]
    body = arr.reshape(h, w * ch)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# JPEG spec constants (ITU-T T.81 Annex K — public "typical" tables)
# --------------------------------------------------------------------------

QT_LUMA = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

QT_CHROMA = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
], dtype=np.int32)

DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# --------------------------------------------------------------------------
# JPEG encoder helpers
# --------------------------------------------------------------------------


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """Batched 2-D DCT over (..., 8, 8)."""
    return np.einsum("ij,...jk,lk->...il", _C, blocks, _C)


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 -> spec table, 100 -> all ones."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (table * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _encode_component(
    writer: _BitWriter,
    coeffs: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
) -> int:
    """Entropy-encode one block's 64 zigzagged coefficients."""
    zz = coeffs
    diff = int(zz[0]) - pred
    pred = int(zz[0])
    cat = _category(diff)
    code, length = dc_codes[cat]
    writer.write(code, length)
    if cat:
        bits = diff if diff > 0 else diff + (1 << cat) - 1
        writer.write(bits, cat)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]      # ZRL
            writer.write(code, length)
            run -= 16
        cat = _category(v)
        code, length = ac_codes[(run << 4) | cat]
        writer.write(code, length)
        bits = v if v > 0 else v + (1 << cat) - 1
        writer.write(bits, cat)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]          # EOB
        writer.write(code, length)
    return pred


def encode_jpeg(
    arr: np.ndarray, quality: int = 85, subsampling: str = "444"
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB (or (H, W) grayscale) array as a
    baseline JFIF JPEG. ``subsampling``: "444" or "420"."""
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w, _ = arr.shape
    rgb = arr.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128

    if subsampling == "420":
        hs = vs = 2
        ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        cb = _pad_to(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = _pad_to(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    elif subsampling == "444":
        hs = vs = 1
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")

    qt_l = _quality_scale(QT_LUMA, quality)
    qt_c = _quality_scale(QT_CHROMA, quality)

    # MCU-pad each plane and zigzag-quantize its blocks.
    mcu_h, mcu_w = 8 * vs, 8 * hs
    yh = (h + mcu_h - 1) // mcu_h * mcu_h
    yw = (w + mcu_w - 1) // mcu_w * mcu_w
    yp = _pad_to(y, yh, yw)
    ch = (yh // vs, yw // hs)
    cbp = _pad_to(cb, *ch)
    crp = _pad_to(cr, *ch)

    def quantize(plane, qt):
        blocks = _dct2(_to_blocks(plane - 128.0))
        q = np.round(blocks / qt).astype(np.int32)
        return q.reshape(-1, 64)[:, ZIGZAG]

    yq = quantize(yp, qt_l)
    cbq = quantize(cbp, qt_c)
    crq = quantize(crp, qt_c)

    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    writer = _BitWriter()
    preds = [0, 0, 0]
    mcus_x, mcus_y = yw // mcu_w, yh // mcu_h
    ybw = yw // 8  # luma blocks per row
    cbw = ch[1] // 8
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for by in range(vs):
                for bx in range(hs):
                    i = (my * vs + by) * ybw + (mx * hs + bx)
                    preds[0] = _encode_component(writer, yq[i], dc_l, ac_l, preds[0])
            i = my * cbw + mx
            preds[1] = _encode_component(writer, cbq[i], dc_c, ac_c, preds[1])
            preds[2] = _encode_component(writer, crq[i], dc_c, ac_c, preds[2])
    entropy = writer.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")                                    # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l.reshape(64)[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qt_c.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (hs << 4) | vs, 0])                            # Y
    sof += bytes([2, 0x11, 1])                                      # Cb
    sof += bytes([3, 0x11, 1])                                      # Cr
    out += seg(0xFFC0, sof)
    for tc_th, bits, vals in (
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
        (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Progressive encoder (ITU-T T.81 Annex G — spectral selection +
# successive approximation, Huffman entropy coding)
# --------------------------------------------------------------------------

#: libjpeg's default progressive scan script for 3 components
#: (jcparam.c std_scan_script): (component indexes, Ss, Se, Ah, Al).
#: Exercises all four scan kinds: interleaved DC first + refine,
#: per-component AC first (split spectral bands for luma) and two
#: levels of AC refinement for luma.
DEFAULT_SCAN_SCRIPT: list[tuple[tuple[int, ...], int, int, int, int]] = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


def _emit_eobrun(
    writer: _BitWriter, ac_codes: dict, eobrun: int, pending: list[int]
) -> int:
    """Emit an accumulated EOBn run (code = nbits<<4, appended low
    bits) followed by the correction bits buffered for the run's
    blocks (T.81 G.1.2.3 / jcphuff emit_eobrun)."""
    if eobrun > 0:
        nbits = eobrun.bit_length() - 1
        code, length = ac_codes[nbits << 4]
        writer.write(code, length)
        if nbits:
            writer.write(eobrun & ((1 << nbits) - 1), nbits)
        for b in pending:
            writer.write(b, 1)
        pending.clear()
    return 0


def _encode_ac_first(
    writer: _BitWriter,
    ac_codes: dict,
    blocks: list[np.ndarray],
    ss: int,
    se: int,
    al: int,
) -> None:
    """AC first scan for one component (G.1.2.2): magnitudes
    point-transformed by ``abs >> Al``, zero runs with ZRL, EOB runs
    accumulated across blocks."""
    eobrun = 0
    nothing: list[int] = []
    for zz in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            eobrun = _emit_eobrun(writer, ac_codes, eobrun, nothing)
            while r > 15:
                code, length = ac_codes[0xF0]
                writer.write(code, length)
                r -= 16
            nbits = t.bit_length()
            code, length = ac_codes[(r << 4) | nbits]
            writer.write(code, length)
            writer.write(t if v > 0 else (1 << nbits) - 1 - t, nbits)
            r = 0
        if r > 0:
            # Emit EOB immediately (run length 1): the Annex K typical
            # tables define only the EOB0 symbol (0x00) — EOBn run
            # accumulation needs custom tables. Spec-valid, slightly
            # larger output; the decoder handles arbitrary EOBn runs.
            eobrun = _emit_eobrun(writer, ac_codes, eobrun + 1, nothing)
    _emit_eobrun(writer, ac_codes, eobrun, nothing)


def _encode_ac_refine(
    writer: _BitWriter,
    ac_codes: dict,
    blocks: list[np.ndarray],
    ss: int,
    se: int,
    al: int,
) -> None:
    """AC refinement scan for one component (G.1.2.3 / jcphuff
    encode_mcu_AC_refine): newly-significant coefficients emit
    (run, 1) + sign, history-nonzero coefficients emit one correction
    bit each, buffered so they follow the symbol (or EOB run) that
    the decoder reads before passing them."""
    eobrun = 0
    be_bits: list[int] = []   # correction bits owned by the EOB run
    for zz in blocks:
        tvals = {k: abs(int(zz[k])) >> al for k in range(ss, se + 1)}
        eob_pos = max((k for k, t in tvals.items() if t == 1), default=-1)
        br_bits: list[int] = []  # correction bits since the last symbol
        r = 0
        for k in range(ss, se + 1):
            t = tvals[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob_pos:
                eobrun = _emit_eobrun(writer, ac_codes, eobrun, be_bits)
                code, length = ac_codes[0xF0]
                writer.write(code, length)
                r -= 16
                for b in br_bits:
                    writer.write(b, 1)
                br_bits = []
            if t > 1:
                br_bits.append(t & 1)
                continue
            eobrun = _emit_eobrun(writer, ac_codes, eobrun, be_bits)
            code, length = ac_codes[(r << 4) | 1]
            writer.write(code, length)
            writer.write(1 if int(zz[k]) > 0 else 0, 1)
            for b in br_bits:
                writer.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            # EOB0 per block (see _encode_ac_first: the Annex K tables
            # have no EOBn symbols), flushing this block's correction
            # bits right after the EOB code.
            be_bits.extend(br_bits)
            eobrun = _emit_eobrun(writer, ac_codes, eobrun + 1, be_bits)
    _emit_eobrun(writer, ac_codes, eobrun, be_bits)


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    scans: list[tuple[tuple[int, ...], int, int, int, int]] | None = None,
) -> bytes:
    """Encode an (H, W, 3) uint8 RGB (or (H, W) grayscale) array as a
    PROGRESSIVE JFIF JPEG (SOF2). Quantized coefficients are identical
    to :func:`encode_jpeg` at the same quality/subsampling — only the
    entropy layout differs — so both decode to identical pixels.
    ``scans`` overrides the default libjpeg scan script; every scan is
    (component indexes, Ss, Se, Ah, Al) and must follow T.81's rules
    (DC scans may interleave, AC scans are single-component, a
    refinement's Ah equals the previous Al for that band)."""
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w, _ = arr.shape
    rgb = arr.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128

    if subsampling == "420":
        hs = vs = 2
        ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        cb = _pad_to(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        cr = _pad_to(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
    elif subsampling == "444":
        hs = vs = 1
    else:
        raise ValueError(f"unsupported subsampling {subsampling!r}")

    qt_l = _quality_scale(QT_LUMA, quality)
    qt_c = _quality_scale(QT_CHROMA, quality)

    mcu_h, mcu_w = 8 * vs, 8 * hs
    yh = (h + mcu_h - 1) // mcu_h * mcu_h
    yw = (w + mcu_w - 1) // mcu_w * mcu_w
    yp = _pad_to(y, yh, yw)
    ch = (yh // vs, yw // hs)
    cbp = _pad_to(cb, *ch)
    crp = _pad_to(cr, *ch)

    def quantize(plane, qt):
        blocks = _dct2(_to_blocks(plane - 128.0))
        q = np.round(blocks / qt).astype(np.int32)
        return q.reshape(-1, 64)[:, ZIGZAG]

    quant = [quantize(yp, qt_l), quantize(cbp, qt_c), quantize(crp, qt_c)]
    samp = [(hs, vs), (1, 1), (1, 1)]
    grid_w = [yw // 8, ch[1] // 8, ch[1] // 8]     # blocks per row
    # Non-interleaved dims (T.81 A.1.1: ceil over the component's own
    # sample dims) — can be smaller than the MCU-padded grid.
    ni_dims = [
        (
            -(-(h * v) // (vs * 8)),
            -(-(w * hh) // (hs * 8)),
        )
        for hh, v in samp
    ]

    dc_codes = [
        _build_codes(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS),
        _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS),
    ]
    ac_codes = [
        _build_codes(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS),
        _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]
    mcus_x, mcus_y = yw // mcu_w, yh // mcu_h

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")                                    # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(qt_l.reshape(64)[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(qt_c.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, (hs << 4) | vs, 0])                            # Y
    sof += bytes([2, 0x11, 1])                                      # Cb
    sof += bytes([3, 0x11, 1])                                      # Cr
    out += seg(0xFFC2, sof)                                         # SOF2
    for tc_th, bits, vals in (
        (0x00, DC_LUMA_BITS, DC_LUMA_VALS),
        (0x10, AC_LUMA_BITS, AC_LUMA_VALS),
        (0x01, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (0x11, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        out += seg(0xFFC4, bytes([tc_th]) + bytes(bits) + bytes(vals))

    for comp_idxs, ss, se, ah, al in (scans or DEFAULT_SCAN_SCRIPT):
        writer = _BitWriter()
        if ss == 0:                                # DC scan (se == 0)
            if se != 0:
                raise ValueError("DC scans must have Se == 0")

            # Block visit order (T.81 A.2): MULTI-component DC scans are
            # interleaved over the MCU-padded grid; a SINGLE-component DC
            # scan is non-interleaved and covers only the component's own
            # nh×nw raster (A.2.2) — the decoder reads exactly that, so
            # emitting the MCU grid here desyncs the bit reader when the
            # padded grid is larger (e.g. single-luma DC at 4:2:0 with
            # h or w mod 16 in 1..8).
            def _dc_order():
                if len(comp_idxs) == 1:
                    ci = comp_idxs[0]
                    nh, nw = ni_dims[ci]
                    for by in range(nh):
                        for bx in range(nw):
                            yield ci, by * grid_w[ci] + bx
                else:
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            for ci in comp_idxs:
                                hh, v = samp[ci]
                                for by in range(v):
                                    for bx in range(hh):
                                        yield ci, (my * v + by) * grid_w[ci] + (mx * hh + bx)

            if ah == 0:
                preds = {ci: 0 for ci in comp_idxs}
                for ci, i in _dc_order():
                    t = int(quant[ci][i][0]) >> al
                    diff = t - preds[ci]
                    preds[ci] = t
                    cat = _category(diff)
                    code, length = dc_codes[ci][cat]
                    writer.write(code, length)
                    if cat:
                        bits = diff if diff > 0 else diff + (1 << cat) - 1
                        writer.write(bits, cat)
            else:                                  # DC refinement: 1 bit/block
                for ci, i in _dc_order():
                    writer.write((int(quant[ci][i][0]) >> al) & 1, 1)
        else:                                      # AC scan: one component
            if len(comp_idxs) != 1:
                raise ValueError("AC scans must be single-component")
            ci = comp_idxs[0]
            nh, nw = ni_dims[ci]
            blocks = [
                quant[ci][by * grid_w[ci] + bx]
                for by in range(nh)
                for bx in range(nw)
            ]
            if ah == 0:
                _encode_ac_first(writer, ac_codes[ci], blocks, ss, se, al)
            else:
                _encode_ac_refine(writer, ac_codes[ci], blocks, ss, se, al)
        sos = bytes([len(comp_idxs)])
        for ci in comp_idxs:
            t = min(ci, 1)                         # 0: luma tables, 1: chroma
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xFFDA, sos)
        out += writer.flush()
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Lossless JPEG encoder (SOF3, T.81 Annex H)
# --------------------------------------------------------------------------

#: Diff categories for 8-bit lossless reach SSSS 9 (predictor 4's
#: a+b−c can leave [0,255], so |diff| ≤ 510): a DC-style table whose
#: value set extends through category 9.
LL_DIFF_BITS = [0, 1, 5, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0]
LL_DIFF_VALS = list(range(10))


def encode_jpeg_lossless(arr: np.ndarray, predictor: int = 4) -> bytes:
    """Encode (H, W) grayscale or (H, W, 3) RGB as a LOSSLESS JPEG
    (SOF3, T.81 Annex H): spatial DPCM with the chosen predictor
    (1–7), Huffman-coded diff categories, components stored interleaved
    with no subsampling and NO color transform — decode reproduces the
    input array bit-exactly. 8-bit precision, point transform 0, no
    restart markers.

    Sample order/prediction per H.1.1: the first sample of the image
    predicts from 2^(P−1) = 128; the rest of the first LINE uses
    predictor 1 (left); the first sample of every other line uses
    predictor 2 (above); everything else uses the scan's predictor."""
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    if arr.ndim == 2:
        planes = [arr.astype(np.int32)]
    elif arr.ndim == 3:
        planes = [arr[..., k].astype(np.int32) for k in range(arr.shape[2])]
    else:
        raise ValueError("expected (H, W) or (H, W, C)")
    h, w = planes[0].shape
    nc = len(planes)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")                                    # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for k in range(nc):
        sof += bytes([k + 1, 0x11, 0])        # h=v=1, Tq unused
    out += seg(0xFFC3, sof)                                         # SOF3
    out += seg(
        0xFFC4,
        bytes([0x00]) + bytes(LL_DIFF_BITS) + bytes(LL_DIFF_VALS),
    )
    sos = bytes([nc])
    for k in range(nc):
        sos += bytes([k + 1, 0x00])           # DC table 0 for all
    sos += bytes([predictor, 0, 0])           # Ss=predictor, Se=0, AhAl=0
    out += seg(0xFFDA, sos)

    codes = _build_codes(LL_DIFF_BITS, LL_DIFF_VALS)
    writer = _BitWriter()
    for y in range(h):
        for x in range(w):
            for pl in planes:
                xv = int(pl[y, x])
                if y == 0 and x == 0:
                    px = 128
                elif y == 0:
                    px = int(pl[0, x - 1])
                elif x == 0:
                    px = int(pl[y - 1, 0])
                else:
                    px = _ll_predict(
                        int(pl[y, x - 1]),
                        int(pl[y - 1, x]),
                        int(pl[y - 1, x - 1]),
                        predictor,
                    )
                d = xv - px
                cat = _category(d)
                code, length = codes[cat]
                writer.write(code, length)
                if cat:
                    bits = d if d > 0 else d + (1 << cat) - 1
                    writer.write(bits, cat)
    out += writer.flush()
    out += b"\xff\xd9"                                              # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# ISO-BMFF (mp4) writer
# --------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def encode_mp4(
    frames: list[bytes],
    width: int,
    height: int,
    fps: int = 24,
    codec: bytes = b"raw ",
) -> bytes:
    """Write frames as one-sample-per-frame single-chunk mp4."""
    timescale = fps * 1000
    delta = 1000
    duration = delta * len(frames)
    mdat_payload = b"".join(frames)

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)
        + _UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    sample_entry = _box(
        codec,
        b"\x00" * 6
        + struct.pack(">H", 1)          # data_reference_index
        + b"\x00" * 16                   # predefined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)          # frame_count
        + b"\x00" * 32                   # compressorname
        + struct.pack(">Hh", 0x0018, -1),
    )
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, len(frames), delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(frames), 1))
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    # ftyp is fixed-size; mdat payload starts right after its 8-byte
    # mdat header — stco can point backward at it.
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    chunk_offset = len(ftyp) + 8
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))

    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    mdat = _box(b"mdat", mdat_payload)
    return ftyp + mdat + moov


# --------------------------------------------------------------------------
# Synthetic media table
# --------------------------------------------------------------------------


def synthetic_media(spark, n: int = 64, partitions: int = 8) -> DataFrame:
    """Deterministic media table (seeded by media_id): images are REAL
    PPM, PNG or JPEG files, audio REAL PCM16 WAVs (all decodable by
    anything, not just this package); video payloads are raw fake
    frames, bare or inside a raw-codec mp4 container. Generated
    distributed (spark.range), not driver-side."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                rng = np.random.default_rng(int(mid))
                kind = kinds[int(mid) % 3]
                w, h = int(rng.integers(8, 64)), int(rng.integers(8, 64))
                nf = int(rng.integers(4, 32)) if kind == "video" else 1
                sr = 16000 if kind == "audio" else 0
                if kind == "image":
                    # Rotate the real container formats so every image
                    # consumer exercises all three codec paths (jpeg is
                    # lossy — consumers must treat pixels as decoded
                    # content, not expect the raw rng values back).
                    fmt = ("ppm", "png", "jpeg")[(int(mid) // 3) % 3]
                    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                    if fmt == "ppm":
                        content = encode_ppm(pixels)
                    elif fmt == "png":
                        content = encode_png(pixels)
                    else:
                        content = encode_jpeg(pixels, quality=90)
                elif kind == "audio":
                    fmt = "wav"
                    samples = rng.integers(-32768, 32768, size=1024).astype("<i2")
                    content = encode_wav(samples, sr)
                elif (int(mid) // 3) % 2 == 0:
                    fmt = "fake"
                    content = rng.integers(
                        0, 256, size=w * h, dtype=np.uint8
                    ).tobytes()
                else:
                    # Real ISO-BMFF container around raw frame
                    # payloads: the sample table is genuine (any box
                    # walker parses it); the payload codec is declared
                    # 'raw ' — container real, codec honest.
                    fmt = "mp4"
                    content = encode_mp4(
                        [
                            rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
                            for _ in range(nf)
                        ],
                        w,
                        h,
                    )
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": kind,
                        "content": content,
                        "meta": {
                            "format": fmt,
                            "width": w,
                            "height": h,
                            "sample_rate": sr,
                            "n_frames": nf,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(_gen, schema=MEDIA_SCHEMA)
    )
